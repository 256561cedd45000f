"""Snapshot manifests for the on-disk serving indexes (LSH / IVF / BM25).

Why this exists: Spark plans a parquet read by LISTING the directory
tree, then executes against the listed file paths. Any maintenance that
deletes or renames a listed file between those two moments — compaction
swaps, partition-overwrite replays — surfaces to a concurrent reader as
``FAILED_READ_FILE.FILE_NOT_EXIST`` (the r7 soak measured 6–31 such
transients per reader thread on the LSH/IVF/BM25 indexes, while the
line-count tree's never-rewritten partitions measured 0). Pushing a
retry loop onto every consumer does not survive 100× scale.

The manifest inverts the contract — the same shape the table formats
(Iceberg's snapshot + manifest list, Delta's transaction log) use:

* every index mutation runs inside :func:`manifest_txn`, which records
  exactly the files that write produced and publishes them as the next
  ``_manifest/v{N}.json`` snapshot — an atomic tmp + rename, so any
  snapshot a reader resolves is complete;
* readers resolve the LATEST snapshot once and plan directly over those
  explicit file paths (``basePath`` preserves the partition columns, so
  ``tb``/``band``/``cid`` pruning is unchanged);
* a logical overwrite (segment replay, compaction) RETIRES the
  displaced files in the manifest instead of deleting them; GC removes
  retired files only after a grace window, so a reader pinned to any
  recent snapshot never observes a missing file — no reader-side retry,
  no coordination;
* files never published (a write that crashed before its commit, a
  compaction that crashed before its publish) are ORPHANS: invisible to
  readers, never adopted into a snapshot — scan-diff adoption would
  silently double additive stats like BM25 tf/df/N — and deleted by GC
  once older than the grace window. Replay regenerates their content.

Single-MAINTAINER contract: one
writer/compactor at a time per index root — the streaming ingest loops
serialize maintenance inside ``foreachBatch``. Readers need nothing.
Round 9 makes the contract ENFORCED, not just documented: every
mutation holds a lease file (``_manifest/_lease``, O_EXCL create;
broken automatically when the holder pid is dead on this host or the
lease ages past its timeout) and the snapshot publish itself is
fail-if-exists (``os.link``), so a misconfigured second maintainer
raises :class:`ConcurrentMaintainerError` loudly instead of silently
last-writer-wins corrupting the snapshot chain.

Pre-existing UNMANAGED trees (built by older writers, no ``_manifest``)
are ADOPTED on first mutation: the transaction's pre-scan file set
becomes generation 1's live set alongside the new write, so resuming an
index that predates the manifest layer never vanishes its legacy data
(and never lets GC sweep it as orphans). Orphan non-adoption only
applies once a manifest exists — then unpublished files really are
crash debris.

Round 9 also moved the SERVING STORE onto this substrate
(streaming/serving.py) — appends, compaction, predicate deletes, and
retention cleans all publish snapshots, so store readers gained the
same 0-transient contract — and, in the second half, the line-count
segment tree (streaming/pipeline.py start_line_dedup_ingest): the
quintet soak caught its legacy directory-listing reader racing
compaction for real, closing the last non-manifest index tree.

Scale notes: a publish costs O(live files) — one JSON dump plus one
tree scan — and readers pay one JSON parse. That holds comfortably to
~10^5 files (a few MB of manifest); the indexes here stay far under it
because compaction bounds files-per-leaf and segment count equals
batch count by contract. Past that, the standard next step is the
Iceberg shape (a manifest LIST pointing at per-subtree manifest
files), which this layout can grow into without changing the reader
contract — snapshot resolution stays one fetch of the newest
generation.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import uuid
from pathlib import Path
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

MANIFEST_DIR = "_manifest"
#: manifest generations to retain beyond the grace window (debugging
#: trail; readers only ever resolve the latest)
KEEP_GENERATIONS = 4
LEASE_NAME = "_lease"
#: a dead maintainer's lease is broken after this long even when its
#: pid can't be probed (cross-host; pid-liveness handles same-host)
LEASE_TIMEOUT_SEC = 1800.0


class ConcurrentMaintainerError(RuntimeError):
    """A second maintainer tried to mutate a manifest-managed index.

    The single-maintainer contract is load-bearing: two concurrent
    publishers would race generation numbers and one's snapshot (and
    the files only it references) would silently vanish. Raising here
    turns an operator mistake (compaction run beside a live ingest
    loop) into a loud, retryable failure instead of corruption."""


def _lease_path(root: str | Path) -> Path:
    return _mdir(root) / LEASE_NAME


def _lease_is_stale(lease: Path, timeout_sec: float) -> bool:
    """A lease is stale when its holder pid is provably dead ON THE
    SAME HOST (the lease records its hostname — a pid number existing
    or not on a DIFFERENT host means nothing, r9 review catch), or the
    file has aged past the timeout. Live holders heartbeat the mtime
    (see :func:`_maintainer_lease`), so the timeout only fires on a
    crashed or wedged holder, not on a long-running mutation."""
    try:
        parts = lease.read_text().split()
        pid = int(parts[1])
        # legacy 3-field leases (token pid ts) predate the hostname and
        # were same-host by construction
        host = parts[2] if len(parts) > 3 else _HOSTNAME
        st = lease.stat()
    except (OSError, IndexError, ValueError):
        return True  # unreadable/vanished: treat as breakable
    if st.st_mtime <= time.time() - timeout_sec:
        return True
    if host == _HOSTNAME:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True  # holder died on this host; recover now
        except OSError:
            pass
    return False


_HOSTNAME = os.uname().nodename if hasattr(os, "uname") else "unknown"


def _break_stale_lease(lease: Path) -> None:
    """Atomically claim the right to break a stale lease: rename it to
    a unique name first — exactly ONE breaker's rename succeeds, so two
    waiters can never each unlink (the unlink-then-create TOCTOU where
    the second waiter removes the FIRST waiter's fresh lease, r9 review
    catch)."""
    broken = lease.with_name(lease.name + ".broken." + uuid.uuid4().hex)
    os.rename(lease, broken)  # FileNotFoundError -> someone else won
    with contextlib.suppress(OSError):
        os.unlink(broken)


@contextlib.contextmanager
def _maintainer_lease(root: str | Path,
                      timeout_sec: float | None = None) -> Iterator[None]:
    """Hold the index's single-maintainer lease for one mutation.
    O_EXCL create is the acquisition; a live second maintainer raises
    :class:`ConcurrentMaintainerError` immediately (no blocking — the
    caller misconfigured, waiting won't fix it). While held, a daemon
    heartbeat refreshes the lease mtime every timeout/4, so mutations
    longer than the timeout (a full BM25 merge at scale) never have a
    LIVE lease broken out from under them — the timeout only ever
    breaks a holder that crashed (heartbeat died with the process) or
    wedged. Override via ``SSBC_LEASE_TIMEOUT_SEC``."""
    if timeout_sec is None:
        timeout_sec = float(
            os.environ.get("SSBC_LEASE_TIMEOUT_SEC", LEASE_TIMEOUT_SEC)
        )
    mdir = _mdir(root)
    mdir.mkdir(parents=True, exist_ok=True)
    lease = _lease_path(root)
    token = uuid.uuid4().hex
    for _ in range(3):  # stale-break then retry, bounded
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(f"{token} {os.getpid()} {_HOSTNAME} {time.time()}")
            break
        except FileExistsError:
            if _lease_is_stale(lease, timeout_sec):
                try:
                    _break_stale_lease(lease)
                except OSError:
                    pass  # another waiter broke it; retry acquisition
                continue
            raise ConcurrentMaintainerError(
                f"index {root} is being mutated by another maintainer "
                f"(lease {lease}); one writer/compactor at a time"
            )
    else:
        raise ConcurrentMaintainerError(
            f"could not acquire maintainer lease {lease} after stale-breaks"
        )
    stop = threading.Event()

    def _heartbeat() -> None:
        while not stop.wait(max(1.0, timeout_sec / 4.0)):
            try:
                if lease.read_text().split()[0] != token:
                    return  # not ours any more; stop touching it
                os.utime(lease)
            except OSError:
                return

    hb = threading.Thread(target=_heartbeat, daemon=True)
    hb.start()
    try:
        yield
    finally:
        stop.set()
        hb.join(timeout=2.0)
        # release only our own lease (a stale-break may have handed it on)
        try:
            if lease.read_text().split()[0] == token:
                os.unlink(lease)
        except (OSError, IndexError):
            pass


def _mdir(root: str | Path) -> Path:
    return Path(root) / MANIFEST_DIR


def _is_hidden(rel_parts: tuple[str, ...]) -> bool:
    return any(p.startswith(("_", ".")) for p in rel_parts)


def latest_manifest(root: str | Path) -> dict | None:
    """The newest complete snapshot, or None for an unmanaged tree.
    Generations are monotonically named ``v{N:012d}.json``; the write
    path is tmp + rename, so any ``v*.json`` present is complete."""
    mdir = _mdir(root)
    try:
        names = [n for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")]
    except OSError:
        return None
    if not names:
        return None
    with open(mdir / max(names)) as fh:
        return json.load(fh)


def manifest_at(root: str | Path, generation: int) -> dict | None:
    """A SPECIFIC snapshot generation, or None if that generation's
    manifest has been pruned. Time travel for index reads: pass the
    result as ``snapshot=`` to the index query functions and every read
    resolves that generation's exact file list — valid for as long as
    GC's grace window (plus :data:`KEEP_GENERATIONS`) keeps the files
    and the manifest alive, which is precisely the contract a serving
    consumer needs to run a multi-query analysis against ONE consistent
    index state while ingestion keeps appending."""
    path = _mdir(root) / f"v{generation:012d}.json"
    try:
        with open(path) as fh:
            return json.load(fh)
    except OSError:
        return None


def manifest_added_since(root: str | Path, since_generation: int,
                         snapshot: dict | None = None) -> list[str] | None:
    """Relative paths of data files LIVE in the current (or given)
    snapshot but absent from generation ``since_generation`` — the
    incremental-consumer primitive: a downstream job records the
    generation it last processed and, next run, reads only the files
    new appends/segments landed since. Compaction rewrites are included
    (their files are new) — consumers doing exactly-once row processing
    should track row identity, or schedule incremental pulls between
    compactions (the ingest loops' ``compact_every`` cadence makes that
    a contract, not luck). Returns None when either generation's
    manifest is gone (pruned history): the caller falls back to a full
    read rather than silently missing data."""
    base = manifest_at(root, since_generation)
    cur = snapshot if snapshot is not None else latest_manifest(root)
    if base is None or cur is None:
        return None
    return sorted(set(cur["files"]) - set(base["files"]))


def manifest_diff_read(spark: SparkSession, root: str | Path,
                       since_generation: int, sub: str = "",
                       snapshot: dict | None = None) -> DataFrame | None:
    """Plan a parquet read over ONLY the files added after
    ``since_generation`` under ``sub`` (see :func:`manifest_added_since`
    for the contract). Returns None when the baseline generation is
    pruned or no new files exist under the subtree — both cases where
    the caller must decide (full re-read vs no-op), not silently get an
    empty or complete scan."""
    rootp = Path(root)
    added = manifest_added_since(rootp, since_generation, snapshot=snapshot)
    if added is None:
        return None
    want = sub.rstrip("/") + "/" if sub else ""
    paths = [str(rootp / f) for f in added if f.startswith(want)]
    if not paths:
        return None
    base = rootp / sub if sub else rootp
    return spark.read.option("basePath", str(base)).parquet(*paths)


def scan_parquet_files(root: str | Path) -> set[str]:
    """Relative POSIX paths of every VISIBLE ``*.parquet`` under root
    (hidden ``_``/``.`` components excluded — staging dirs, the manifest
    dir itself, ``_SUCCESS`` debris). Follows symlinks so legacy
    compaction leaves are seen through their live slot."""
    rootp = Path(root)
    out: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(rootp, followlinks=True):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        rel = Path(dirpath).relative_to(rootp).parts
        if _is_hidden(rel):
            continue
        prefix = "/".join(rel)
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.add(f"{prefix}/{f}" if prefix else f)
    return out


#: string min/max longer than this are dropped from zone maps: parquet
#: writers may TRUNCATE long byte-array statistics, and a truncated max
#: understates the true upper bound — pruning with it would wrongly skip
#: files. Values at or under the cap are always stored exact.
_STAT_STR_CAP = 60


#: footer key under which Spark's parquet writer stores the row schema
#: (StructType JSON, partition columns excluded) of every file it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _compact_schema(raw: bytes | None) -> str | None:
    """Spark's row-schema JSON as ``[[name, type(, metadata)], ...]``:
    nullability is dropped (a file read makes every field nullable) and
    so is empty metadata, which keeps the per-file manifest entry at
    about a quarter of the footer text. None when the footer holds no
    Spark schema."""
    try:
        fields = json.loads(raw)["fields"]
        return json.dumps(
            [[f["name"], f["type"]] + ([f["metadata"]] if f.get("metadata") else [])
             for f in fields],
            separators=(",", ":"),
        )
    except (ValueError, KeyError, TypeError):
        return None


def _file_stats(path: Path) -> dict | None:
    """Zone-map entry for one parquet file, from its FOOTER only (no
    data read): {"rows": n, "cols": {name: {"mn","mx","nulls"} |
    {"allnull": true}}, "schema": <Spark row schema, compacted>}. Top-level
    primitive columns only (nested chunk paths contain '.'); a column
    whose min/max is unusable in any row group (missing, NaN,
    unorderable, oversized string) is omitted — pruning treats missing
    as "may match". ``schema`` is present only for files Spark wrote
    (see :func:`recorded_schema`). Returns None if the footer can't be
    read (the file is then simply never pruned)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    rows = md.num_rows
    agg: dict[str, dict] = {}
    bad: set[str] = set()

    def _norm(v):
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, bool) or isinstance(v, int):
            return int(v)
        if isinstance(v, float):
            return v if v == v else None  # NaN is unorderable
        if isinstance(v, str):
            return v if len(v) <= _STAT_STR_CAP else None
        return None  # timestamps/decimals/etc: not JSON-portable

    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            c = g.column(i)
            name = c.path_in_schema
            if "." in name or name in bad:
                continue
            st = c.statistics
            ent = agg.setdefault(name, {"mn": None, "mx": None, "nulls": 0, "vals": 0})
            nulls = st.null_count if st is not None and st.null_count is not None else None
            if nulls is None:
                bad.add(name)
                continue
            ent["nulls"] += nulls
            if nulls == c.num_values and not st.has_min_max:
                continue  # chunk entirely null: no min/max needed
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = _norm(st.min), _norm(st.max)
            if mn is None or mx is None or type(mn) is not type(mx):
                bad.add(name)
                continue
            ent["vals"] += 1
            if ent["vals"] == 1:
                ent["mn"], ent["mx"] = mn, mx
            else:
                if type(ent["mn"]) is not type(mn):
                    bad.add(name)
                    continue
                ent["mn"] = min(ent["mn"], mn)
                ent["mx"] = max(ent["mx"], mx)
    cols: dict[str, dict] = {}
    for name, ent in agg.items():
        if name in bad:
            continue
        if ent["vals"] == 0:
            if ent["nulls"] == rows:
                cols[name] = {"allnull": True}
            continue
        cols[name] = {"mn": ent["mn"], "mx": ent["mx"], "nulls": ent["nulls"]}
    out = {"rows": rows, "cols": cols}
    schema = _compact_schema((md.metadata or {}).get(_SPARK_SCHEMA_KEY))
    if schema is not None:
        out["schema"] = schema
    return out


def _harvest_stats(rootp: Path, rels: Sequence[str]) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for rel in rels:
        st = _file_stats(rootp / rel)
        if st is not None:
            out[rel] = st
    return out


def _int_literal(v):
    """``v`` as an int when it is a string Spark casts to that same
    BIGINT (an optional sign and ASCII digits, inside the int64 range);
    anything else is returned unchanged."""
    if isinstance(v, str) and re.fullmatch(r"[+-]?[0-9]+", v):
        n = int(v)
        if -(2**63) <= n < 2**63:
            return n
    return v


def _satisfiable(fstat: dict | None, col: str, op: str, value) -> bool:
    """Can any row of a file with zone-map entry `fstat` match
    `col op value`? Conservative: unknown stats -> True."""
    if fstat is None:
        return True
    cs = fstat.get("cols", {}).get(col)
    if cs is None:
        return True
    if op not in ("=", "<", "<=", ">", ">=", "in"):
        # Validate the operator BEFORE any pruning short-circuit: an op
        # outside the documented set must degrade to "keep", even for an
        # all-null column (e.g. a future null-test op DOES match).
        return True
    if cs.get("allnull"):
        return False  # known comparisons never match NULL
    mn, mx = cs["mn"], cs["mx"]
    if isinstance(mn, int) and isinstance(mx, int):
        # the HTTP routes pass bounds as path strings, and Spark's row
        # filter casts such a literal to the integral column type; any
        # string that is not exactly an int64 stays a str, so the
        # cross-type compare below keeps the file
        if op == "in" and isinstance(value, (list, tuple, set, frozenset)):
            value = [_int_literal(v) for v in value]
        else:
            value = _int_literal(value)

    def _nan(v) -> bool:
        return isinstance(v, float) and v != v

    if _nan(value) or (
        op == "in"
        and isinstance(value, (list, tuple, set, frozenset))
        and any(_nan(v) for v in value)
    ):
        # Python orders nothing against NaN (all comparisons False,
        # which would wrongly PRUNE), while Spark orders NaN above every
        # double — so a NaN predicate value is "unknown", never a skip
        return True
    if op == "in":
        if not isinstance(value, (list, tuple, set, frozenset)):
            return True  # not a value set: stats can't reason about it
        try:
            return any(mn <= v <= mx for v in value)
        except TypeError:
            return True
    try:
        if op == "=":
            return mn <= value <= mx
        if op in (">=", ">"):
            # NaN DATA values make upper-bound pruning unsound for float
            # columns: parquet writers (pyarrow) exclude NaN from
            # min/max statistics, but Spark orders NaN ABOVE every
            # double — a file whose finite mx < value may still contain
            # NaN rows that DO match ``col > value`` / ``col >= value``.
            # A float mx therefore never prunes on the upper bound.
            # (=, <, <=, in stay sound: NaN rows match none of them.)
            if isinstance(mx, float):
                return True
            return mx >= value if op == ">=" else mx > value
        if op == "<=":
            return mn <= value
        if op == "<":
            return mn < value
    except TypeError:
        return True  # cross-type comparison: stats don't apply
    return True  # op == "in" with an unorderable set already returned


def files_matching(m: dict, sub: str = "",
                   predicate: Sequence[tuple] = ()) -> list[str]:
    """The snapshot's live files under ``sub`` that MAY contain rows
    matching every ``(col, op, value)`` conjunct (ops: = < <= > >= in),
    judged purely from the snapshot's zone maps — no file is opened.
    Pruning is correctness-neutral: a kept file may still contain no
    matching rows (the query's own filter handles that); a skipped file
    provably contains none. Columns without recorded stats (partition
    columns, nested/complex types, oversized strings, pre-stats
    generations) never cause a skip."""
    want = sub.rstrip("/") + "/" if sub else ""
    stats = m.get("stats", {})
    out = []
    for f in m["files"]:
        if not f.startswith(want):
            continue
        fstat = stats.get(f)
        if all(_satisfiable(fstat, c, op, v) for (c, op, v) in predicate):
            out.append(f)
    return out


def recorded_schema(m: dict, rels: Sequence[str]) -> StructType | None:
    """The union of the Spark row schemas the snapshot recorded for
    ``rels``, merged in the given order the way parquet ``mergeSchema``
    merges footers (new fields append; every field nullable, as any
    file read makes them) — so a read can declare it and skip Spark's
    footer-merge job. None when any file has no recorded schema (a
    snapshot written before schemas were recorded, a non-Spark writer)
    or two files disagree on a field's type or spelling: the caller
    then keeps the ``mergeSchema`` read, which resolves (or rejects)
    such stores exactly as before."""
    stats = m.get("stats", {})
    texts = [stats.get(f, {}).get("schema") for f in rels]
    if None in texts:
        return None
    fields: dict[str, StructField] = {}
    for text in dict.fromkeys(texts):  # batches mostly share one schema
        try:
            schema = StructType.fromJson({"type": "struct", "fields": [
                {"name": f[0], "type": f[1], "nullable": True,
                 "metadata": f[2] if len(f) > 2 else {}}
                for f in json.loads(text)
            ]})
        except (ValueError, TypeError, KeyError, IndexError):
            return None  # unparseable here: leave it to Spark's merge
        for fld in schema.fields:
            seen = fields.setdefault(fld.name.lower(), fld)
            if seen.name != fld.name or seen.dataType != fld.dataType:
                return None
    return StructType(list(fields.values()))


def _publish(root: str | Path, files: Sequence[str], retired: dict[str, float],
             generation: int, meta: dict | None = None,
             stats: dict | None = None) -> dict:
    """Write one snapshot generation. The write is tmp + hard-link, so
    it is both atomic (any ``v*.json`` a reader opens is complete) and
    FAIL-IF-EXISTS: a second maintainer that raced past the lease and
    computed the same next generation number raises
    :class:`ConcurrentMaintainerError` instead of silently replacing a
    sibling's snapshot (whose files would then be GC'd as orphans)."""
    mdir = _mdir(root)
    mdir.mkdir(parents=True, exist_ok=True)
    m = {
        "generation": generation,
        "created_unix": time.time(),
        "files": sorted(files),
        "retired": dict(sorted(retired.items())),
    }
    if meta:
        m["meta"] = meta
    if stats:
        live = set(files)
        m["stats"] = {f: stats[f] for f in sorted(stats) if f in live}
    tmp = mdir / f"_tmp_{uuid.uuid4().hex[:8]}.json"
    tmp.write_text(json.dumps(m))
    final = mdir / f"v{generation:012d}.json"
    try:
        os.link(tmp, final)
    except FileExistsError:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise ConcurrentMaintainerError(
            f"snapshot generation {generation} already exists under {mdir}; "
            "a concurrent maintainer published it first"
        ) from None
    os.unlink(tmp)
    return m


def _commit(root: str | Path, added: set[str],
            replace_prefixes: Sequence[str] = (),
            adopt: Sequence[str] = (),
            extra_retire: frozenset[str] | set[str] = frozenset(),
            meta_updates: dict | None = None) -> dict:
    """Publish the next snapshot: ``added`` files become live; live
    files under ``replace_prefixes`` that predate this write are
    RETIRED (kept on disk for pinned readers until GC's grace window
    expires) — append-mode writes + a scoped commit is the reader-safe
    spelling of a partition overwrite. ``extra_retire`` retires an
    explicit file set the same way (row-level rewrites name their
    displaced files instead of a prefix). Live files the writer itself
    hard-deleted (a full ``mode("overwrite")`` rebuild) drop out; a
    rebuild is not reader-atomic under any scheme — build into a fresh
    directory and swap paths instead. On-disk files that are neither
    live, retired, nor in ``added`` stay orphans by design — EXCEPT on
    the very first commit over a pre-existing unmanaged tree, where
    ``adopt`` (the txn's pre-scan) seeds generation 1's live set so
    legacy data survives the transition to manifest management.
    ``meta_updates`` merge into the snapshot's ``meta`` dict, which is
    otherwise carried forward verbatim."""
    rootp = Path(root)
    prev = latest_manifest(rootp)
    prev_files = list(prev["files"]) if prev else sorted(adopt)
    retired = dict(prev["retired"]) if prev else {}
    meta = dict(prev.get("meta", {})) if prev else {}
    if meta_updates:
        meta.update(meta_updates)
    now = time.time()

    def _in_scope(f: str) -> bool:
        return any(f == p or f.startswith(p.rstrip("/") + "/")
                   for p in replace_prefixes)

    kept: list[str] = []
    for f in prev_files:
        if f in added:
            continue
        if not (rootp / f).exists():
            continue  # hard-deleted by the writer; nothing to protect
        if _in_scope(f) or f in extra_retire:
            retired[f] = now
        else:
            kept.append(f)
    retired = {f: t for f, t in retired.items()
               if f not in added and (rootp / f).exists()}
    gen = (prev["generation"] + 1) if prev else 1
    # zone maps: carry the previous snapshot's per-file stats forward for
    # kept files, harvest footers ONLY for files new to this snapshot
    # (added, plus the adopted set on a first commit) — a commit costs
    # O(new files) footer reads, never a re-walk of the live set
    stats = dict(prev.get("stats", {})) if prev else {}
    new_rels = [f for f in (set(added) | ({*prev_files} if not prev else set()))
                if f not in stats and (rootp / f).exists()]
    stats.update(_harvest_stats(rootp, sorted(new_rels)))
    return _publish(rootp, kept + sorted(added), retired, gen, meta=meta,
                    stats=stats)


class ManifestTxnHandle:
    """Mutable view of an open :func:`manifest_txn`. Callers that do
    more than plain writes use it to shape the commit:

    * :meth:`retire` — retire an explicit displaced-file set (row-level
      rewrites that replace individual files, not whole prefixes);
    * :meth:`replace` — add a replace scope discovered mid-transaction
      (e.g. per affected segment);
    * :meth:`set_meta` — merge a key into the snapshot's ``meta`` dict
      (carried forward across later snapshots until overwritten);
    * :attr:`live_files` — the file set a reader would see right now
      (prior snapshot's live files, or the pre-scan of an unmanaged
      tree being adopted) — what a rewrite should treat as current.
    """

    def __init__(self, live_files: set[str], root: Path, pre: set[str]):
        self.live_files = set(live_files)
        self._root = root
        self._pre = set(pre)
        self._extra_retire: set[str] = set()
        self._scopes: list[str] = []
        self._meta: dict = {}
        self._aborted = False

    def retire(self, files) -> None:
        self._extra_retire.update(files)

    def current_live(self, sub: str = "") -> set[str]:
        """The live set AS OF NOW inside the open transaction — prior
        live files minus retirements recorded so far, plus files the
        transaction has written so far (optionally restricted to a
        subtree). Multi-step mutations (rewrite postings, then
        re-derive stats from the REWRITTEN postings) read this instead
        of the published snapshot, which won't exist until commit.

        A scoped call walks ONLY that subtree: callers that iterate
        leaves (compaction, per-segment forget re-derive) would
        otherwise pay O(leaves x whole-tree walk) in stat calls — the
        dominant cost of a metadata-cheap maintenance pass on remote
        filesystems (r9 review catch)."""
        if sub:
            want = sub.rstrip("/") + "/"
            subdir = self._root / sub.rstrip("/")
            scanned = (
                {want + f for f in scan_parquet_files(subdir)}
                if subdir.is_dir()
                else set()
            )
            now_live = (self.live_files - self._extra_retire) | (
                scanned - self._pre
            )
            return {f for f in now_live if f.startswith(want)}
        return (self.live_files - self._extra_retire) | (
            scan_parquet_files(self._root) - self._pre
        )

    def replace(self, prefix: str) -> None:
        self._scopes.append(prefix)

    def set_meta(self, key: str, value) -> None:
        self._meta[key] = value

    def abort(self) -> None:
        """Mark the transaction a no-op: nothing is published on exit
        (files already written become orphans for GC). For early-outs
        that discover there is nothing to mutate — publishing an empty
        generation would bump the chain (and adopt unmanaged trees)
        for no reason."""
        self._aborted = True


@contextlib.contextmanager
def manifest_txn(root: str | Path,
                 replace_prefixes: Sequence[str] = ()) -> Iterator[ManifestTxnHandle]:
    """Wrap one logical index mutation (any number of Spark writes):

        with manifest_txn(path):                         # append
            df.write.mode("append").parquet(...)
        with manifest_txn(path, replace_prefixes=[...]): # replace scope
            df.write.mode("append").parquet(...)
        with manifest_txn(path) as txn:                  # shaped commit
            ...rewrite files...; txn.retire(displaced)

    The files that appear between entry and exit — and ONLY those —
    become live in the next snapshot; with ``replace_prefixes`` (or
    scopes added via the handle) the scope's previous files retire. On
    the FIRST transaction over a pre-existing unmanaged tree, the
    pre-scan file set is adopted as generation 1's live set — legacy
    data written before manifest management stays visible and GC-safe.
    If the body raises, nothing is published and the partial files are
    orphans for GC — a reader can never observe a half-written
    mutation. Holds the maintainer lease for the duration; a concurrent
    maintainer raises :class:`ConcurrentMaintainerError`."""
    rootp = Path(root)
    with _maintainer_lease(rootp):
        pre = scan_parquet_files(rootp)
        prev = latest_manifest(rootp)
        txn = ManifestTxnHandle(
            set(prev["files"]) if prev else set(pre), rootp, pre
        )
        yield txn
        if txn._aborted:
            return
        _commit(
            rootp,
            scan_parquet_files(rootp) - pre,
            tuple(replace_prefixes) + tuple(txn._scopes),
            adopt=sorted(pre),
            extra_retire=frozenset(txn._extra_retire),
            meta_updates=txn._meta or None,
        )


def manifest_read(spark: SparkSession, root: str | Path, sub: str = "",
                  snapshot: dict | None = None,
                  predicate: Sequence[tuple] = ()) -> DataFrame:
    """Plan a parquet read over the latest snapshot's files under
    ``sub`` (a relative subtree, e.g. ``"postings"``). ``basePath``
    anchors partition-column discovery, so partition pruning and DPP
    behave exactly as a directory read. Unmanaged trees (no manifest —
    built by older code or external writers) fall back to the plain
    directory read. A query spanning several subtrees resolves
    :func:`latest_manifest` ONCE and passes it as ``snapshot`` so all
    its reads pin the same generation.

    ``predicate`` — ``(col, op, value)`` conjuncts — prunes files by
    the snapshot's zone maps BEFORE Spark ever lists or opens them
    (see :func:`files_matching`); at object-store scale that turns a
    selective point/range read from O(files) footer round-trips into
    O(manifest). The caller must still apply the real filter: pruning
    only removes files that provably contain no match. When every live
    file is pruned the read degrades to the empty-subtree path below
    (schema preserved)."""
    rootp = Path(root)
    m = snapshot if snapshot is not None else latest_manifest(rootp)
    base = rootp / sub if sub else rootp
    if m is None:
        return spark.read.parquet(str(base))
    want = sub.rstrip("/") + "/" if sub else ""
    matched = (files_matching(m, sub, predicate) if predicate
               else [f for f in m["files"] if f.startswith(want)])
    paths = [str(rootp / f) for f in matched]
    if not paths and predicate and any(f.startswith(want) for f in m["files"]):
        # live files exist but all were zone-map-pruned: empty result
        # with the real schema (from a live file, schema-only)
        first_live = next(f for f in m["files"] if f.startswith(want))
        schema = (
            spark.read.option("basePath", str(base))
            .parquet(str(rootp / first_live)).schema
        )
        return spark.createDataFrame([], schema)
    if not paths:
        # A manifest exists but lists no live files under the subtree.
        # NEVER fall back to the directory read: retired files awaiting
        # GC still sit there, and reading them would resurrect rows a
        # forget just deleted (and double-count stats a rederive just
        # rewrote). Schema comes from a retired/orphan file if one is
        # still on disk (schema-only — no rows are exposed); once GC
        # has emptied the subtree this raises the same PATH_NOT_FOUND
        # an empty directory read would.
        ghosts = [str(rootp / f) for f in scan_parquet_files(rootp)
                  if f.startswith(want) and (rootp / f).exists()]
        if ghosts:
            schema = (
                spark.read.option("basePath", str(base)).parquet(*ghosts).schema
            )
            return spark.createDataFrame([], schema)
        from pyspark.errors import AnalysisException

        raise AnalysisException(
            f"[PATH_NOT_FOUND] manifest snapshot generation "
            f"{m['generation']} has no live files under {base}"
        )
    return spark.read.option("basePath", str(base)).parquet(*paths)


def _rewrite_dropping_rows(spark: SparkSession, rootp: Path, live: set[str],
                           id_col: str, idlist: list[int],
                           subtrees: Sequence[str]) -> tuple[set[str], list[str]]:
    """Rewrite, in place (new part files beside the old), every live
    data file under ``subtrees`` that contains rows whose ``id_col`` is
    in ``idlist`` — candidates are first pruned by the snapshot's zone
    maps (files whose recorded [min, max] id range contains none of the
    ids are never even opened), then confirmed with one pushdown-pruned
    scan per subtree (parquet row-group stats skip the rest). Files
    whose rows are ALL forgotten get no replacement. Returns (displaced
    files, replacement files); the CALLER publishes — until it does,
    replacements are orphans and readers keep resolving the old files,
    so a crash here loses nothing."""
    touched: set[str] = set()
    added: list[str] = []
    from pyspark.sql import functions as F  # local: keep module import-light

    m = latest_manifest(rootp)
    stats = m.get("stats", {}) if m else {}
    for sub in subtrees:
        base = rootp / sub
        want = sub.rstrip("/") + "/"
        paths = [
            f for f in live
            if f.startswith(want)
            and _satisfiable(stats.get(f), id_col, "in", idlist)
        ]
        if not paths:
            continue
        hit_rows = (
            spark.read.option("basePath", str(base))
            .parquet(*[str(rootp / f) for f in sorted(paths)])
            .filter(F.col(id_col).isin(idlist))
            .select(F.input_file_name().alias("_f"))
            .distinct()
            .collect()
        )
        prefix = str(rootp) + "/"
        for r in hit_rows:
            f = r["_f"]
            if f.startswith("file:"):
                f = f[5:]
                while f.startswith("//"):
                    f = f[1:]
            rel = f[len(prefix):] if f.startswith(prefix) else None
            if rel is None or rel not in live or rel in touched:
                continue
            touched.add(rel)
            keep = spark.read.parquet(str(rootp / rel)).filter(
                ~F.col(id_col).isin(idlist)
            )
            if keep.limit(1).count() == 0:
                continue  # whole file forgotten: retire, no replacement
            staged = rootp / f"_compactstage_{uuid.uuid4().hex[:8]}"
            keep.coalesce(1).write.mode("overwrite").parquet(str(staged))
            leaf_dir = (rootp / rel).parent
            leaf_rel = os.path.dirname(rel)
            for pf in sorted(staged.glob("*.parquet")):
                crc = staged / f".{pf.name}.crc"
                if crc.exists():
                    os.replace(crc, leaf_dir / crc.name)
                os.replace(pf, leaf_dir / pf.name)
                added.append(f"{leaf_rel}/{pf.name}" if leaf_rel else pf.name)
            import shutil

            shutil.rmtree(staged, ignore_errors=True)
    return touched, added


def manifest_forget_rows(spark: SparkSession, root: str | Path,
                         id_col: str, ids: Sequence[int],
                         subtrees: Sequence[str],
                         grace_sec: float = 300.0,
                         txn: ManifestTxnHandle | None = None) -> int:
    """Row-level delete across a manifest-managed index: drop every row
    whose ``id_col`` is in ``ids`` from the given subtrees, rewriting
    ONLY the data files that actually contain such rows and publishing
    the swap as ONE snapshot. The right-to-be-forgotten primitive:
    readers pinned to any recent snapshot keep resolving the old files
    through the grace window, so a delete never blocks or breaks a
    concurrent query; after GC the forgotten rows have no bytes on disk
    anywhere.

    Files whose rows are all forgotten simply retire with no
    replacement. Partition values live in directory names, so rewrites
    stay in their leaf and contents merge verbatim minus the dropped
    rows. An UNMANAGED (pre-manifest) tree is adopted first — the
    forget is honored against the directory state, never silently
    no-opped. Returns the number of files rewritten or retired.

    Pass an open ``txn`` (from :func:`manifest_txn`) to fold the
    postings drop into a LARGER single-snapshot mutation — e.g. BM25's
    forget, whose segment stat re-derivations must land in the SAME
    snapshot so no reader ever plans post-forget postings against
    pre-forget df/N/avgdl. With ``txn`` the caller publishes and GCs.
    """
    if not ids:
        return 0
    rootp = Path(root)
    idlist = [int(x) for x in ids]
    if txn is not None:
        touched, _added = _rewrite_dropping_rows(
            spark, rootp, set(txn.live_files), id_col, idlist, subtrees
        )
        txn.retire(touched)
        return len(touched)
    with manifest_txn(rootp) as t:
        touched, _added = _rewrite_dropping_rows(
            spark, rootp, set(t.live_files), id_col, idlist, subtrees
        )
        if not touched:
            t.abort()  # nothing matched: truthful no-op, no publish
        t.retire(touched)
    if touched:
        gc_index_tree(rootp, grace_sec)
    return len(touched)


def _unlink_with_crc(rootp: Path, rel: str) -> None:
    p = rootp / rel
    try:
        os.unlink(p)
    except OSError:
        pass
    crc = p.parent / f".{p.name}.crc"
    try:
        os.unlink(crc)
    except OSError:
        pass


def gc_index_tree(root: str | Path, grace_sec: float = 300.0) -> int:
    """Delete (a) retired files whose grace window expired and (b)
    orphans — on-disk files no snapshot references, debris of writes
    that crashed before their commit — older than the grace window (by
    mtime; they were never reader-visible, the grace only avoids racing
    an in-flight sibling writer under a misused multi-writer setup).
    Prunes emptied leaf dirs and stale manifest generations. Returns
    files deleted. Readers pin a snapshot at plan time; any snapshot
    published within the last ``grace_sec`` still resolves every file
    it lists. Holds the maintainer lease (GC deletes files — the one
    operation a racing maintainer must never interleave with)."""
    rootp = Path(root)
    if latest_manifest(rootp) is None:
        return 0  # unmanaged tree: nothing is known-orphan, touch nothing
    with _maintainer_lease(rootp):
        return _gc(rootp, grace_sec)


def _gc(rootp: Path, grace_sec: float) -> int:
    m = latest_manifest(rootp)
    if m is None:
        return 0
    now = time.time()
    cutoff = now - grace_sec
    live = set(m["files"])
    drop = [f for f, t in m["retired"].items() if t < cutoff and f not in live]
    known = live | set(m["retired"])
    for f in scan_parquet_files(rootp) - known:
        try:
            if (rootp / f).stat().st_mtime <= cutoff:
                drop.append(f)
        except OSError:
            pass
    for f in drop:
        _unlink_with_crc(rootp, f)
    if drop:
        retired = {f: t for f, t in m["retired"].items() if f not in drop}
        # carry zone maps forward: a GC publish changes no live file
        m = _publish(rootp, m["files"], retired, m["generation"] + 1,
                     meta=m.get("meta"), stats=m.get("stats"))
        # prune dirs the deletions emptied (bottom-up; never the root)
        for dirpath, dirnames, filenames in os.walk(rootp, topdown=False):
            d = Path(dirpath)
            if d == rootp or _is_hidden(d.relative_to(rootp).parts):
                continue
            try:
                d.rmdir()  # fails (kept) unless truly empty
            except OSError:
                pass
    # staging debris from a compaction that crashed before its publish
    # (hidden from readers and scans; safe to sweep once aged)
    import shutil

    for name in os.listdir(rootp):
        p = rootp / name
        if name.startswith("_compactstage_") and p.is_dir():
            try:
                if p.stat().st_mtime <= cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    # manifest history: keep the latest KEEP_GENERATIONS plus anything
    # still inside the grace window
    mdir = _mdir(rootp)
    names = sorted(n for n in os.listdir(mdir)
                   if n.startswith("v") and n.endswith(".json"))
    for n in names[:-KEEP_GENERATIONS] if len(names) > KEEP_GENERATIONS else []:
        p = mdir / n
        try:
            if p.stat().st_mtime < cutoff:
                os.unlink(p)
        except OSError:
            pass
    return len(drop)


def compact_index_tree(spark: SparkSession, root: str | Path,
                       target_files: int = 1, grace_sec: float = 300.0) -> int:
    """Small-files maintenance for a manifest-managed index: rewrite
    every leaf holding more than ``target_files`` live data files down
    to ``target_files``, publish the snapshot that swaps them in, then
    GC. Readers never coordinate: until the new snapshot lands they
    plan over the old files (which stay on disk through the grace
    window); after it, over the compacted ones. A crash at any point
    leaves either the old snapshot fully intact (moved-but-unpublished
    files are orphans GC removes) or the new one. File contents merge
    verbatim — partition values live in directory names — so query
    results are bit-identical (pytest-pinned). Returns leaves rewritten.
    """
    rootp = Path(root)
    with _maintainer_lease(rootp):
        m = latest_manifest(rootp)
        if m is None:
            # adopt an unmanaged tree: first snapshot = what a directory
            # reader sees today
            m = _commit(rootp, scan_parquet_files(rootp))
        retired = dict(m["retired"])
        by_leaf: dict[str, list[str]] = {}
        for f in m["files"]:
            by_leaf.setdefault(os.path.dirname(f), []).append(f)

        rewritten = 0
        displaced: set[str] = set()
        added: list[str] = []
        now = time.time()
        for leaf, leaf_files in sorted(by_leaf.items()):
            if len(leaf_files) <= target_files:
                continue
            df = spark.read.parquet(*[str(rootp / f) for f in leaf_files])
            staged = rootp / f"_compactstage_{uuid.uuid4().hex[:8]}"
            df.coalesce(target_files).write.mode("overwrite").parquet(str(staged))
            leaf_dir = rootp / leaf if leaf else rootp
            for pf in sorted(staged.glob("*.parquet")):
                dest = leaf_dir / pf.name  # part-...-<uuid> names never collide
                crc = staged / f".{pf.name}.crc"
                if crc.exists():
                    os.replace(crc, leaf_dir / crc.name)
                os.replace(pf, dest)
                added.append(f"{leaf}/{pf.name}" if leaf else pf.name)
            import shutil

            shutil.rmtree(staged, ignore_errors=True)
            displaced.update(leaf_files)
            retired.update((f, now) for f in leaf_files)
            rewritten += 1

        if rewritten:
            files = [f for f in m["files"] if f not in displaced] + added
            # zone maps: keep every surviving file's stats, harvest the
            # freshly merged replacements (O(rewritten files) footer reads)
            stats = dict(m.get("stats", {}))
            stats.update(_harvest_stats(rootp, sorted(added)))
            _publish(rootp, files, retired, m["generation"] + 1,
                     meta=m.get("meta"), stats=stats)
        _gc(rootp, grace_sec)
        return rewritten
