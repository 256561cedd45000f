#!/usr/bin/env python3
"""End-to-end benchmark of the bucket-counter stream, its serving reads
and the reference-parity catalog core.

    python3 perfbench/run.py --workload ingest_lowcard --seed 1 --seconds 10 --trace 0

Run from the repository root. This process is the load: one generator
thread, one ``/rst`` poller and at most two closed-loop HTTP read
clients. The system under test runs in its own process
(``perfbench/sut.py``, Spark at ``local[nproc]``) and receives only the
generated input files and HTTP requests.

Every line but the last is a human-readable report: each end-to-end
metric under its own name with its unit, the environment stamp and,
with ``--trace 1``, the per-layer table. The last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` carrying the
metrics ``BENCHMARK.json`` lists: the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1``. Set
``PERFBENCH_CORRUPT_EXPECTED=1`` to corrupt one expected answer and see
the oracle fail the run.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, STREAM_T0, make_files, prefill_rows, read_mix  # noqa: E402

PACKAGE = "spark_streaming_kafka_bucket_counter_spark"
GEN_REPEATS = 3
DRAIN_DEADLINE_S = 60.0
SETTLE_DEADLINE_S = 30.0
POLL_INTERVAL_S = 0.1


class RunError(RuntimeError):
    """The run could not produce a result."""


# -- environment ------------------------------------------------------------
def _jiffies():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals) - idle, sum(vals)


def _proc_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pids) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except OSError:
            continue
    return total / tick


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process whose parent dies is re-parented here and can be waited for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_descendants(deadline_s: float = 30.0) -> None:
    """SIGKILL every process below this one and wait until each has
    ended: kill what the process tree holds, reap the children (orphans
    included, see ``become_subreaper``) and repeat until none is left."""
    me = os.getpid()
    seen: set[int] = set()
    end = time.time() + deadline_s
    while True:
        pids = [p for p in _proc_tree(me) if p != me]
        seen.update(pids)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            if not any(_alive(p) for p in seen):
                return
        if time.time() >= end:
            return
        time.sleep(0.05)


# -- the system under test --------------------------------------------------
class SutProcess:
    """``perfbench/sut.py`` in its own process group, driven over pipes."""

    def __init__(self, root: Path, work: Path, trace: bool, nproc: int) -> None:
        tmp = work / "tmp"
        tmp.mkdir(parents=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(nproc),
            SPARK_GRAFT_DRIVER_MEM="2g",
            TMPDIR=str(tmp),
            SPARK_LOCAL_DIRS=str(work / "spark-local"),
            # keep the JVM's temp files and perf-counter file in the
            # work directory too (the latter otherwise goes to /tmp)
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONPATH=os.pathsep.join(
                p for p in (str(root), os.environ.get("PYTHONPATH")) if p
            ),
        )
        self.log_path = work / "sut.log"
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "sut.py"), "--trace", str(int(trace))],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
            cwd=str(root),
            env=env,
            start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.hello = self._reply(180.0)

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def _reply(self, timeout: float) -> dict:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RunError(f"system under test silent for {timeout:.0f} s") from None
        if line is None:
            raise RunError("system under test exited:\n" + self.log_tail())
        msg = json.loads(line)
        if "error" in msg:
            raise RunError("system under test failed:\n" + msg["error"])
        return msg

    def call(self, cmd: str, timeout: float = 120.0, **args) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, "args": args}) + "\n")
        self.proc.stdin.flush()
        return self._reply(timeout)

    def log_tail(self, n: int = 40) -> str:
        self._log.flush()
        return "".join(self.log_path.read_text(errors="replace").splitlines(True)[-n:])

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the process plus its JVM."""
        return sum(_status_kb(p, "VmHWM") for p in _proc_tree(self.proc.pid)) / 1024.0

    def cpu_s(self) -> float:
        return _cpu_s(_proc_tree(self.proc.pid))

    def close(self) -> None:
        """Stop the stream and the server, then end the process and every
        process under it (its JVM and the JVM's Python workers, which
        run in a process group of their own); results are already read."""
        try:
            if self.proc.poll() is None:
                self.call("stop", timeout=60.0)
        except (RunError, OSError, ValueError):
            pass
        finally:
            stop_descendants()
            self.proc.wait()
            self._log.close()


# -- load-side HTTP -----------------------------------------------------------
def http_get(port: int, path: str, timeout: float = 60.0):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Poller(threading.Thread):
    """Polls ``/rst`` and records ``(answer time, rst_id, send time)``."""

    def __init__(self, port: int) -> None:
        super().__init__(daemon=True)
        self.port = port
        self.polls: list[tuple[float, int]] = []
        self.errors = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            try:
                sent = time.time()
                status, body = http_get(self.port, "/rst", timeout=10.0)
                if status == 200:
                    self.polls.append((time.time(), json.loads(body)["rst_id"], sent))
                else:
                    self.errors += 1
            except (OSError, http.client.HTTPException, ValueError, KeyError):
                self.errors += 1
            self._stop_evt.wait(POLL_INTERVAL_S)

    def wait_sent_after(self, t: float, deadline_s: float = 10.0) -> None:
        """Wait for a poll sent at or after ``t``: the upper bound the
        ``/rv`` check needs for a read that ended at ``t``."""
        end = time.time() + deadline_s
        while time.time() < end and not (self.polls and self.polls[-1][2] >= t):
            time.sleep(POLL_INTERVAL_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=15.0)


def commit_time(ckpt: Path, batch_id: int, deadline_s: float) -> float | None:
    """When the stream committed ``batch_id``: the mtime of its entry in
    the checkpoint's commit log, written just after the batch's sink
    returns (so it can lag the store showing the batch). ``None`` if it
    does not appear within ``deadline_s``."""
    end = time.time() + deadline_s
    while True:
        try:
            return (ckpt / "commits" / str(batch_id)).stat().st_mtime
        except FileNotFoundError:
            if time.time() >= end:
                return None
            time.sleep(0.01)


def source_log(ckpt: Path) -> dict[str, int]:
    """``{file name: batch id}`` from the file source's checkpoint log."""
    out: dict[str, int] = {}
    logdir = ckpt / "sources" / "0"
    if not logdir.is_dir():
        return out
    for f in logdir.iterdir():
        if f.name.startswith("."):
            continue
        try:
            lines = f.read_text().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            try:
                rec = json.loads(line)
            except ValueError:
                continue  # a log file still being written
            out[rec["path"].rsplit("/", 1)[-1]] = rec["batchId"]
    return out


class Stream:
    """The stream's input directory, its checkpoint and the poller."""

    def __init__(self, work: Path, poller: Poller) -> None:
        self.src = work / "src"
        self.staging = work / "staging"
        self.ckpt = work / "ckpt"
        self.poller = poller
        self.arrived: dict[str, float] = {}

    def stage(self, files) -> None:
        for f in files:
            (self.staging / f.name).write_text("\n".join(f.lines) + "\n")

    def release(self, name: str) -> float:
        """Rename a staged file into the source directory, so the file
        source never lists a partial file; returns the arrival time."""
        os.rename(self.staging / name, self.src / name)
        t = time.time()
        self.arrived[name] = t
        return t

    def wait_visible(self, names, deadline_s: float) -> float | None:
        """Time of the first poll showing every batch holding ``names``,
        or ``None`` at the deadline."""
        end = time.time() + deadline_s
        while time.time() < end:
            fb = source_log(self.ckpt)
            if all(n in fb for n in names):
                need = max(fb[n] for n in names)
                polls = list(self.poller.polls)
                t = stats.visible_at(polls, need)
                if t is not None:
                    return t
            time.sleep(0.02)
        return None


class Generator(threading.Thread):
    """Open-loop writer: file ``i`` is due at ``t0 + i / rate``."""

    def __init__(self, stream: Stream, names: list[str], rate: float, t0: float) -> None:
        super().__init__(daemon=True)
        self.stream, self.names, self.rate, self.t0 = stream, names, rate, t0
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []

    def run(self) -> None:
        for i, name in enumerate(self.names):
            due = self.t0 + i / self.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.due[name] = due
            self.late_ms.append((self.stream.release(name) - due) * 1000.0)


class Reader(threading.Thread):
    """A closed-loop HTTP client issuing its read mix until ``t_end``."""

    def __init__(self, port: int, mix: list[dict], t_end: float) -> None:
        super().__init__(daemon=True)
        self.port, self.mix, self.t_end = port, mix, t_end
        self.done: list[dict] = []

    def run(self) -> None:
        for read in self.mix:
            if time.time() >= self.t_end:
                break
            t0 = time.time()
            try:
                status, body = http_get(self.port, read["path"])
            except (OSError, http.client.HTTPException) as exc:
                status, body = -1, str(exc).encode()
            self.done.append({**read, "t0": t0, "t1": time.time(), "status": status, "body": body})


def check_read(read: dict, polls) -> tuple[bool, int]:
    """(answer correct, rows returned) for one finished read."""
    if read["status"] != 200:
        return False, 0
    try:
        rows = json.loads(read["body"])
    except ValueError:
        return False, 0
    route = read["route"]
    if route == "rv":
        # the last answer before the request bounds rst from below; the
        # first poll sent after the response bounds it from above
        before = [p[1] for p in polls if p[0] <= read["t0"]]
        after = [p[1] for p in polls if p[2] >= read["t1"]]
        lo = before[-1] - 5 if before else None
        hi = after[0] if after else None
        ok = lo is not None and hi is not None and all(lo < r["RST_ID"] <= hi for r in rows)
        return ok, len(rows)
    if route == "sql":
        return {r["etype"]: r["n"] for r in rows} == read["sums"], len(rows)
    got = sorted(
        (r["etype"], r["bucket_start"], r["bucket_end"], r["count"], r["RST_ID"]) for r in rows
    )
    return got == [tuple(x) for x in read["rows"]], len(rows)


# -- workloads --------------------------------------------------------------------
def _gen_inputs(w, seed: int, n_open: int):
    """Warm-up, backlog and open-loop files, generated ``GEN_REPEATS``
    times; returns the last set and the median generation time."""
    times = []
    for _ in range(GEN_REPEATS):
        t0 = time.time()
        rng = random.Random(seed)
        t = STREAM_T0
        warm = make_files(w, rng, "w", w.warm_files, t)
        t += 2 * w.warm_files
        backlog = make_files(w, rng, "b", w.backlog_files, t)
        t += 2 * w.backlog_files
        opened = make_files(w, rng, "o", n_open, t)
        times.append(time.time() - t0)
    return (warm, backlog, opened), times


def run_stream(w, sut: SutProcess, args, work: Path, t_start: float) -> dict:
    """ingest_* and serve_full_store: drain, open loop and (serve) reads."""
    rec: dict = {}
    open_s = args.seconds if w.kind == "serve" else args.seconds * 0.6
    n_open = max(1, int(round(w.files_per_s * open_s)))
    (warm, backlog, opened), gen_times = _gen_inputs(w, args.seed, n_open)
    files = warm + backlog + opened
    if os.environ.get("PERFBENCH_CORRUPT_EXPECTED") == "1":
        key = next(iter(files[-1].counts))
        files[-1].counts[key] += 1
    rng = random.Random(args.seed ^ 0x5EED)
    prefill = prefill_rows(w, rng) if w.prefill_batches else []

    sut.call("open_store", path=str(work / "store"),
             clean_interval=w.clean_interval, clean_freq=w.clean_freq)
    if prefill:
        sut.call("prefill", rows=prefill)
    port = sut.call(
        "stream_start", src=str(work / "src"), ckpt=str(work / "ckpt"),
        msg_map=w.msg_map, bucket_interval=w.bucket_interval,
        max_files=w.max_files_per_trigger,
    )["port"]
    poller = Poller(port)
    poller.start()
    stream = Stream(work, poller)
    stream.stage(files)
    try:
        for f in warm:
            stream.release(f.name)
        if stream.wait_visible([f.name for f in warm], DRAIN_DEADLINE_S) is None:
            raise RunError("warm-up files never became visible")
        mixes = []
        if w.read_clients:
            # safe ids: prefilled batches retention keeps all run long
            # (the stream adds far fewer than 50 batches in a run)
            safe = list(range(-w.clean_interval + 50, 0))
            for c in range(w.read_clients):
                mix = read_mix(random.Random(args.seed * 31 + c), safe, prefill, 2000,
                               offset=2 * c)
                mixes.append(mix)
            # two reads per client absorb first-plan code generation
            warmers = [Reader(port, mix[:2], float("inf")) for mix in mixes]
            for r in warmers:
                r.start()
            for r in warmers:
                r.join(120.0)
        setup_s = time.time() - t_start - (sum(gen_times) - stats.median(gen_times))

        if args.trace:
            sut.call("mark_jobs", mark="window")
        cpu0 = sut.cpu_s()
        t_win0 = time.time()
        drain = None
        if backlog:
            t0 = time.time()
            for f in backlog:
                stream.release(f.name)
            if stream.wait_visible([f.name for f in backlog], DRAIN_DEADLINE_S) is not None:
                last = max(source_log(stream.ckpt)[f.name] for f in backlog)
                t_done = commit_time(stream.ckpt, last, DRAIN_DEADLINE_S)
                if t_done is not None:
                    drain = {"s": t_done - t0, "rows": sum(len(f.lines) for f in backlog)}
        t_open0 = time.time()
        gen = Generator(stream, [f.name for f in opened], w.files_per_s, t_open0)
        readers = [Reader(port, mix, t_open0 + open_s) for mix in mixes]
        gen.start()
        for r in readers:
            r.start()
        gen.join(open_s + 30.0)
        for r in readers:
            r.join(open_s + 60.0)
        t_read_end = max([t_open0 + open_s] + [r.done[-1]["t1"] for r in readers if r.done])
        stream.wait_visible([f.name for f in opened], SETTLE_DEADLINE_S)
        poller.wait_sent_after(t_read_end)
        t_win1 = time.time()
        cpu1 = sut.cpu_s()
        jobs = sut.call("jobs_since", mark="window") if args.trace else None
        rec["peak_rss_mb"] = sut.peak_rss_mb()
    finally:
        poller.stop()
    trace = sut.call("trace") if args.trace else None
    file_batch = source_log(stream.ckpt)
    polls = poller.polls
    stored = sut.call("store_counts", group_cols=w.group_cols, timeout=170.0)["rows"]
    state = sut.call("store_state")

    # -- oracle: stored counts per batch == generator counts per batch
    expected: dict[int, Counter] = {}
    for f in files:
        b = file_batch.get(f.name)
        if b is not None:
            expected.setdefault(b, Counter()).update(f.counts)
    got: dict[int, Counter] = {}
    for row in stored:
        got.setdefault(row[0], Counter())[tuple(row[1:-1])] += row[-1]
    rst_max = max(got) if got else -1
    bad_batches = {
        b for b, exp in expected.items()
        if (b in got or b >= rst_max - w.clean_interval)
        and stats.count_mismatches(exp, got.get(b, {}))
    }
    failed_files = [
        f.name for f in files
        if file_batch.get(f.name) is None or file_batch[f.name] in bad_batches
        or stats.visible_at(polls, file_batch[f.name]) is None
    ]
    fresh, missing = stats.freshness(gen.due, file_batch, polls)
    rec.update(
        setup_s=setup_s,
        t_win0=t_win0,
        t_win1=t_win1,
        gen_s=gen_times,
        drain=drain,
        freshness_ms=[fresh[n] for n in gen.due if n in fresh],
        gen_late_ms=gen.late_ms,
        backlog_max=stats.backlog_max(stream.arrived, file_batch, polls),
        files=len(files),
        failed_files=failed_files,
        poll_errors=poller.errors,
        store=state,
        cpu_s=cpu1 - cpu0,
        jobs=jobs,
    )
    reads = [r for reader in readers for r in reader.done]
    checked, bad = [], []
    for r in reads:
        ok, n_rows = check_read(r, polls)
        checked.append({
            "route": r["route"], "ok": ok, "rows": n_rows, "t0": r["t0"], "t1": r["t1"],
            "ms": (r["t1"] - r["t0"]) * 1000.0, "kb": len(r["body"]) / 1024.0,
        })
        if not ok:
            near = [p for p in polls if r["t0"] - 5 <= p[0] <= r["t1"] + 5]
            bad.append({**r, "body": r["body"].decode(errors="replace")[:4000], "polls": near})
    rec["reads"], rec["bad_reads"] = checked, bad
    rec["read_window_s"] = t_read_end - t_open0
    rec["batches_in_window"] = len({
        b for n, b in file_batch.items() if stream.arrived.get(n, 0) >= t_win0
    })
    attempted = len(files) + len(checked)
    failed = len(failed_files) + sum(not c["ok"] for c in checked)
    rate = drain["rows"] / drain["s"] if drain else 0.0
    if w.kind == "serve":
        latency = stats.mix_mean([(c["route"], c["ms"]) for c in checked])
        ops = len(checked)
    else:
        latency = stats.mix_mean([("file", ms) for ms in rec["freshness_ms"]])
        ops = rec["batches_in_window"]
    if rate <= 0:
        raise RunError("the run measured no operation")
    rec["e2e"] = {"setup_s": setup_s, "latency_mean_ms": latency, "throughput_per_s": rate}
    rec["attempted"], rec["failed"], rec["ops"] = attempted, failed, ops
    if trace is not None:
        span_s = sut.call("span_cost", n=20000)["span_s"]
        rec["layers"] = layers.stream_tables(w.kind, rec, trace, file_batch, files, span_s)
        rec["trace"] = trace
    return rec


def run_catalog(w, sut: SutProcess, args, work: Path, t_start: float) -> dict:
    names = list(w.catalog_queries)
    setup = sut.call("catalog_setup", data_dir=str(work / "data"), repeats=GEN_REPEATS)
    gen_times = setup["gen_s"]
    # the oracle check runs every query once through Spark, which also
    # warms code generation and caches before the timed passes
    oracle = sut.call("catalog_oracle", names=names, timeout=170.0)["ok"]
    if os.environ.get("PERFBENCH_CORRUPT_EXPECTED") == "1":
        oracle[names[0]] = False
    sut.call("catalog_pass", names=names, timeout=170.0)  # warms the noop write path
    setup_s = time.time() - t_start - (sum(gen_times) - stats.median(gen_times))
    if args.trace:
        sut.call("mark_jobs", mark="window")
    cpu0 = sut.cpu_s()
    rng = random.Random(args.seed)
    passes = []
    t_win0 = time.time()
    t_end = t_win0 + args.seconds
    while True:
        order = names[:]
        rng.shuffle(order)
        t0 = time.time()
        ops = sut.call("catalog_pass", names=order, timeout=170.0)["ops"]
        passes.append({"s": time.time() - t0, "ops": ops})
        if time.time() + passes[-1]["s"] / 2 >= t_end:
            break
    t_win1 = time.time()
    cpu1 = sut.cpu_s()
    jobs = sut.call("jobs_since", mark="window") if args.trace else None
    peak = sut.peak_rss_mb()
    trace = sut.call("trace") if args.trace else None
    ops = [op for p in passes for op in p["ops"]]
    total_s = sum(p["s"] for p in passes)
    rec = {
        "setup_s": setup_s,
        "t_win0": t_win0,
        "t_win1": t_win1,
        "gen_s": gen_times,
        "passes": passes,
        "oracle": oracle,
        "peak_rss_mb": peak,
        "cpu_s": cpu1 - cpu0,
        "jobs": jobs,
        "attempted": len(ops),
        "failed": sum(not oracle.get(op["name"], False) for op in ops),
        "ops": len(ops),
        "e2e": {
            "setup_s": setup_s,
            "latency_mean_ms": stats.mix_mean(
                [(op["name"], (op["end"] - op["start"]) * 1000.0) for op in ops]
            ),
            "throughput_per_s": len(ops) / total_s,
        },
    }
    if trace is not None:
        span_s = sut.call("span_cost", n=20000)["span_s"]
        rec["layers"] = layers.catalog_tables(rec, trace, span_s)
        rec["trace"] = trace
    return rec


# -- report -------------------------------------------------------------------------
def _fmt_tail(name: str, values, unit: str) -> str:
    t = stats.tail(values)
    if t is not None and t[0] == 50.0:
        t = None
    if t is None:
        return f"{name}_tail = n/a (n={len(values)}: no percentile above p50 has {stats.MIN_BEYOND} samples beyond it)"
    q, v, n = t
    return f"{name}_p{q:g}_{unit} = {v:.3f} {unit} (n={n})"


def report_lines(w, rec: dict, env: dict) -> list[str]:
    e = rec["e2e"]
    lines = [f"workload = {w.name}", f"setup_s = {e['setup_s']:.3f} s"]
    if w.kind in ("ingest", "serve"):
        if rec.get("drain"):
            d = rec["drain"]
            lines.append(f"drain_rows_per_s = {d['rows'] / d['s']:.1f} rows/s ({d['rows']} rows in {d['s']:.3f} s)")
        f = rec["freshness_ms"]
        if f:
            lines.append(f"freshness_p50_ms = {stats.median(f):.1f} ms (n={len(f)})")
            lines.append(_fmt_tail("freshness", f, "ms"))
    if w.kind == "serve":
        r = [c["ms"] for c in rec["reads"]]
        lines.append(f"read_p50_ms = {stats.median(r):.1f} ms (n={len(r)})")
        lines.append(_fmt_tail("read", r, "ms"))
        lines.append(f"read_mix_mean_ms = {e['latency_mean_ms']:.1f} ms")
        lines.append(f"reads_per_s = {len(r) / rec['read_window_s']:.3f} req/s")
    if w.kind == "catalog":
        lines.append(f"catalog_pass_s = {stats.median([p['s'] for p in rec['passes']]):.3f} s (passes={len(rec['passes'])})")
        lat = [(op["end"] - op["start"]) * 1000.0 for p in rec["passes"] for op in p["ops"]]
        lines.append(f"catalog_query_p50_ms = {stats.median(lat):.1f} ms (n={len(lat)})")
        lines.append(_fmt_tail("catalog_query", lat, "ms"))
        lines.append(f"catalog_query_mean_ms = {e['latency_mean_ms']:.1f} ms")
        bad = sorted(k for k, v in rec["oracle"].items() if not v)
        lines.append(f"catalog_oracle = {'all match' if not bad else 'MISMATCH ' + ','.join(bad)}")
    lines.append(f"failed_frac = {stats.failed_frac(rec['attempted'], rec['failed']):.4f} ratio ({rec['failed']}/{rec['attempted']})")
    lines.append(f"peak_rss_mb = {rec['peak_rss_mb']:.1f} MB")
    lines.append("env = " + json.dumps(env, sort_keys=True))
    if "layers" in rec:
        layers = rec["layers"]
        for k, v in layers.items():
            if isinstance(v, dict):
                for kk, vv in sorted(v.items()):
                    lines.append(f"layer {k}.{kk} = {vv:.6g}")
            else:
                lines.append(f"layer {k} = {v:.6g}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    become_subreaper()
    # a terminated run still stops what it started (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {root} holds no {PACKAGE} package; run from the repository root",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    t_start = time.time()
    load0, jiff0 = os.getloadavg(), _jiffies()
    work = HERE / "_work" / f"{w.name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "src").mkdir(parents=True)
    (work / "staging").mkdir()
    sut = None
    try:
        sut = SutProcess(root, work, bool(args.trace), nproc)
        runner = run_catalog if w.kind == "catalog" else run_stream
        rec = runner(w, sut, args, work, t_start)
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        if sut is not None:
            print(sut.log_tail(), file=sys.stderr)
        return 1
    finally:
        if sut is not None:
            sut.close()
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    jiff1 = _jiffies()
    env = dict(
        sut.hello["env"],
        nproc=nproc,
        session_s=sut.hello["session_s"],
        loadavg_before=load0,
        loadavg_after=os.getloadavg(),
        busy_frac=(jiff1[0] - jiff0[0]) / max(1, jiff1[1] - jiff0[1]),
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
    )
    for line in report_lines(w, rec, env):
        print(line)
    out_dir = HERE / "_out"
    out_dir.mkdir(exist_ok=True)
    record = {k: v for k, v in rec.items() if k != "trace"}
    record["env"] = env
    stem = f"{w.name}-seed{args.seed}"
    (out_dir / f"{stem}-trace{args.trace}.json").write_text(
        json.dumps(record, default=str, indent=1)
    )
    if args.trace:
        # the raw spans and stream progress behind the per-layer table
        (out_dir / f"{stem}-spans.json").write_text(json.dumps(rec["trace"]))
    if args.trace:
        untraced = out_dir / f"{w.name}-seed{args.seed}-trace0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["e2e"]
            for k, v in rec["e2e"].items():
                print(f"trace_overhead {k} = {v - base[k]:+.4g} (traced {v:.4g} vs untraced {base[k]:.4g})")
        metrics = {
            k: {"value": v, "unit": UNITS[k]} for k, v in rec["layers"]["common"].items()
        }
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in rec["e2e"].items()}
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


UNITS = {
    "setup_s": "s",
    "latency_mean_ms": "ms",
    "throughput_per_s": "1/s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "sut.cpu_ms_per_op": "ms",
    "trace.spans_per_op": "count",
    "trace.overhead_ms": "ms",
}


if __name__ == "__main__":
    sys.exit(main())
