"""Partitioned Parquet table store with a chunk manifest.

The Spark-native replacement for the reference's chunk lifecycle + object
store (mutable buffer → read buffer → parquet,
/root/reference/data_types/src/chunk_metadata.rs:35-50;
parquet_file/src/storage.rs:171-330).  Here every *chunk* is one sorted
Parquet file; the manifest records, per chunk, the per-PK-column min/max
stats the reference keeps in ``partition_metadata.rs:216,302`` — they drive
chunk pruning (query/src/pruning.rs:30-110) and overlap grouping
(provider/overlap.rs) on the driver before Spark ever lists a file.

Scan path (the ChunkTableProvider equivalent, provider.rs:201,336-560):
  1. prune chunks by predicate time-range/partition key against manifest stats
  2. group remaining chunks by PK-stat overlap
  3. singleton groups → plain parquet scan (no shuffle, no dedup)
  4. overlapping groups → union with chunk order → last-non-null dedup agg
  5. union all groups

At 100 TB: pruning and grouping are manifest metadata ops (driver, ms);
dedup cost is paid only for the (rare) overlapping tail of recently-written
chunks; everything else is a bare columnar scan with pushdown.  Compaction
(plans/reorg.py) continuously shrinks the overlapping tail, exactly like the
reference lifecycle (lifecycle/src/policy.rs:187).
"""

from __future__ import annotations

import json
import os
import threading
import time as _time
import uuid
from collections import OrderedDict
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from influxdb_iox_spark.operators.dedup import (
    DEDUP_ORDER_COLUMN,
    deduplicate,
    deduplicate_within,
)
from influxdb_iox_spark.operators.overlap import group_potential_duplicates
from influxdb_iox_spark.sources.objstore import fold_records
from influxdb_iox_spark.plans.predicate import Predicate
from influxdb_iox_spark.schema import IoxSchema, merge_chunk_frames

#: merged scan plans one TableStore keeps (LRU; see TableStore.scan).  Each
#: entry holds a JVM plan with its file listing, not data.
SCAN_PLAN_CACHE_SIZE = 64


@dataclass
class ChunkMeta:
    """Manifest entry — the Spark twin of chunk metadata + column stats
    (chunk_metadata.rs + partition_metadata.rs:216,302)."""

    chunk_id: int
    path: str
    table: str
    partition_key: str
    row_count: int
    stats: dict[str, list] = field(default_factory=dict)  # col -> [min, max]
    sorted_by: list[str] = field(default_factory=list)
    created_at: float = 0.0
    # tag catalog: tag -> distinct values (None = overflowed the cap, must
    # scan).  Backs the metadata-only fast path for tag_values/tag_keys
    # (reference: QueryChunk::column_values, query/src/lib.rs:100-115).
    tag_values: dict[str, list | None] = field(default_factory=dict)
    # on-disk bytes of the chunk's parquet files (ChunkSummary
    # estimated_bytes); 0 for chunks registered before this field existed
    estimated_bytes: int = 0
    # True for the cold output of a persist-split: already drained past the
    # late-arrival window, so the lifecycle policy neither re-persists it
    # nor counts it as pending-buffer pressure
    persisted: bool = False
    # per-column compressed bytes from the footers (system.chunk_columns);
    # empty for chunks registered before this field existed
    column_bytes: dict[str, int] = field(default_factory=dict)

    def column_range(self, col: str) -> tuple | None:
        r = self.stats.get(col)
        return (r[0], r[1]) if r else None


def _dir_parquet_bytes(path: str) -> int:
    """Total size of a chunk directory's parquet files (os.stat only)."""
    total = 0
    try:
        for fname in os.listdir(path):
            if fname.endswith(".parquet"):
                total += os.stat(os.path.join(path, fname)).st_size
    except OSError:
        pass
    return total


class PosixManifestBackend:
    """POSIX-filesystem manifest backend — directory layout::

        _manifest/<table>/part-<key>.json    (JSONL append-log of ONE
                                              partition key's chunks)
        _manifest/<table>/_next_id           (chunk-id counter hint)
        _manifest/<table>/_idblock-<base>    (chunk-id block claims)

    Each partition file is an APPEND-LOG (Delta-log style): registering a
    chunk appends one JSONL line — O(1), no read, no rewrite — so
    continuous ingest stays flat as a table accumulates 10^4-10^5 chunks.
    Bulk mutations (drop_chunks, compaction retirement) are ALSO appends:
    a ``{"__drop__": [ids]}`` tombstone line.

    MULTI-WRITER SAFE (the reference runs lifecycle concurrently with
    ingest — lifecycle/src/policy.rs:448 check_for_work against live
    writes; server/src/db.rs:627-699 — and a 100 TB deployment has N
    ingest writers + a compactor by construction):

    - *Appends* are a single ``os.write`` to an ``O_APPEND`` fd.  On a
      local filesystem the kernel serializes same-inode writes, so two
      writers' records never interleave; the appender then re-stats the
      path and RE-APPENDS if the file was concurrently renamed away by log
      compaction (duplicates are folded at read — chunk ids are never
      reused, so records are idempotent).
    - *Chunk ids* are reserved in blocks claimed by ``O_CREAT|O_EXCL``
      block-claim files (``_idblock-<base>``) — true CAS on any POSIX fs;
      two TableStore instances can never hand out the same id.  A crash
      wastes at most one block (gaps are fine).
    - *Log compaction* (``compact``) runs under an ``O_EXCL`` lock (vs
      other compactors only; appenders never block): it renames the live
      log aside (atomic), folds it with the ``.base`` snapshot, and
      snapshot-renames the result.  Readers always read
      ``.base`` + ``.merge`` (crash leftover) + live, in that order, so no
      protocol step ever hides a record.

    These primitives (O_APPEND appends, O_EXCL CAS, rename) do not exist
    on S3/GCS/Azure — ``objstore.ObjectStoreManifestBackend`` provides
    the same contract over conditional-put object stores; ``TableStore``
    is backend-agnostic.
    """

    _LOG_SUFFIXES = (".base", ".merge", "")  # read order: snapshot → crash-leftover → live
    COMPACT_LOCK_STALE_SECONDS = 60.0

    def __init__(self, base_dir: str):
        self.root = os.path.join(base_dir, "_manifest")
        # partition files already verified/migrated to JSONL (append fast path)
        self._jsonl_checked: set[str] = set()
        os.makedirs(self.root, exist_ok=True)

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def part_files(self, table: str) -> list[str]:
        """Canonical (live-file) names of partitions with ANY log file
        present — a partition whose live log was renamed aside by a
        mid-compaction crash is still discovered via its .base/.merge."""
        d = self._dir(table)
        if not os.path.isdir(d):
            return []
        names: set[str] = set()
        for f in os.listdir(d):
            if not f.startswith("part-") or f.endswith(".tmp"):
                continue
            for suf in (".base", ".merge"):
                if f.endswith(suf):
                    f = f[: -len(suf)]
                    break
            names.add(f)
        return sorted(names)

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)) and self.part_files(d)
        )

    def _parse_log(self, p: str) -> tuple[list[dict], set[int]]:
        """Parse ONE physical log file → (add records in order, dropped
        ids).

        JSONL append-log (one record per line: a chunk record, or a
        ``{"__drop__": [ids]}`` tombstone) or the legacy JSON-array
        snapshot.  A TORN append (crashed writer) is a truncated record —
        it never reaches its closing brace — and with concurrent appenders
        it can sit ANYWHERE in the file (the next writer's leading-newline
        record follows it), so truncated lines are skipped wherever they
        occur; a malformed line that still ends with ``}`` cannot be a torn
        append and raises (silently skipping real corruption would shrink
        query results with no error)."""
        try:
            with open(p) as f:  # no exists()-then-open: the compactor may
                text = f.read()  # remove .merge between check and open —
        except FileNotFoundError:  # the chain-version retry handles it
            return [], set()
        if text.lstrip().startswith("["):  # legacy array snapshot
            return list(json.loads(text)), set()
        adds: list[dict] = []
        drops: set[int] = set()
        for i, ln in enumerate(text.splitlines()):
            ln = ln.strip()
            if not ln:
                continue
            try:
                rec = json.loads(ln)
            except json.JSONDecodeError:
                if not ln.endswith("}"):
                    continue  # truncated record = torn append
                raise ValueError(
                    f"corrupt manifest record at {p}:{i + 1} "
                    "(complete line is not valid JSON)"
                )
            if not isinstance(rec, dict):
                raise ValueError(
                    f"corrupt manifest record at {p}:{i + 1} (not an object)"
                )
            if "__drop__" in rec:
                drops.update(rec["__drop__"])
            else:
                adds.append(rec)
        return adds, drops

    def _chain_version(self, d: str, fname: str) -> tuple:
        """Identity of the physical files backing one partition's log chain
        (inode per file; None when absent).  Appends keep the inode, so
        only log compaction — which MOVES records between files — changes
        the version."""
        out = []
        for suf in self._LOG_SUFFIXES:
            try:
                st = os.stat(os.path.join(d, fname + suf))
                out.append((st.st_ino, st.st_dev))
            except FileNotFoundError:
                out.append(None)
        return tuple(out)

    def load_part(self, table: str, fname: str) -> tuple[list[dict], set[int]]:
        """Consistent read of one partition's log chain (.base snapshot +
        .merge crash leftover + live appends) → raw (adds, drops).

        Reads are validated against a concurrent log compaction: the
        compactor MOVES records between the chain's files (live → .merge →
        .base), so a read that interleaves with a fold could see a file
        both before its records arrived and after they left — silently
        dropping them.  The chain's inode version is captured before and
        after the read; a changed version retries (appends keep the inode,
        so steady-state appending never forces a retry)."""
        d = self._dir(table)
        for attempt in range(16):
            before = self._chain_version(d, fname)
            adds: list[dict] = []
            drops: set[int] = set()
            for suf in self._LOG_SUFFIXES:
                a, dr = self._parse_log(os.path.join(d, fname + suf))
                adds.extend(a)
                drops |= dr
            if self._chain_version(d, fname) == before:
                return adds, drops
            _time.sleep(0.001 * attempt)
        # a compactor folding in a hot loop can starve optimistic reads;
        # fall back to reading under the compaction lock (compaction pauses
        # for one read, readers never return a torn view)
        lock = os.path.join(d, "_compact.lock")
        deadline = _time.time() + 30.0
        while not self.acquire_lock(lock):
            if _time.time() > deadline:
                raise RuntimeError(
                    f"manifest read of {fname!r} kept racing log compaction"
                )
            _time.sleep(0.005)
        try:
            adds, drops = [], set()
            for suf in self._LOG_SUFFIXES:
                a, dr = self._parse_log(os.path.join(d, fname + suf))
                adds.extend(a)
                drops |= dr
            return adds, drops
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def _save_part(
        self,
        table: str,
        fname: str,
        records: list[dict],
        drops: set[int] | None = None,
    ) -> None:
        """Atomic snapshot rewrite of one physical log file (tmp + rename).
        Only ever targets ``.base`` snapshots (log compaction) or a legacy
        file being migrated — the live log is append-only, see
        append_record.

        ``drops``: tombstone ids PERSISTED into the snapshot (one leading
        ``__drop__`` record).  Folding a tombstone away would let a delayed
        duplicate re-append (see append_record) resurrect a chunk that was
        dropped between two log compactions; ids are never reused, so the
        set only grows with genuinely dropped chunks and stays a few bytes
        each."""
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, fname)
        if not records and not drops:
            if os.path.exists(p):
                os.remove(p)
            return
        lines = []
        if drops:
            lines.append(json.dumps({"__drop__": sorted(drops)}))
        lines.extend(json.dumps(e, default=str) for e in records)
        tmp = p + f".{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, p)

    def append_record(self, table: str, fname: str, rec: dict) -> None:
        """O(1) append: ONE ``os.write`` of one JSONL line on an O_APPEND
        fd — no read, no rewrite (Delta-log style).  The kernel serializes
        same-inode writes on a local filesystem, so concurrent writers'
        records never interleave; the leading newline additionally
        guarantees a record never merges with a torn trailing write from a
        CRASHED predecessor (blank lines are skipped on read).  After
        writing, the appender re-stats the path: if log compaction renamed
        the file away mid-append, the record may be in a file the compactor
        already folded past, so it RE-APPENDS to the fresh live file —
        worst case a duplicate, folded at read by chunk_id."""
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, fname)
        if p not in self._jsonl_checked:
            try:
                with open(p) as f:  # no exists()-then-open: compaction may
                    legacy = f.read(1) == "["  # rename the live log away
            except FileNotFoundError:  # between the check and the open
                legacy = False
            if legacy:
                    # one-time legacy snapshot migration — under the
                    # compaction lock: an unlocked check-parse-rewrite lets
                    # two migrating writers clobber each other's first
                    # appended record (os.replace over a file the other
                    # just appended to)
                    lock = os.path.join(d, "_compact.lock")
                    deadline = _time.time() + 30.0
                    while not self.acquire_lock(lock):
                        if _time.time() > deadline:
                            raise RuntimeError(
                                f"timed out waiting to migrate legacy manifest {p}"
                            )
                        _time.sleep(0.02)
                    try:
                        try:
                            with open(p) as f:  # re-check: loser of the race
                                still_legacy = f.read(1) == "["
                        except FileNotFoundError:
                            still_legacy = False  # renamed away — migrated
                        if still_legacy:
                            adds, _ = self._parse_log(p)
                            self._save_part(table, fname, adds)
                    finally:
                        try:
                            os.unlink(lock)
                        except FileNotFoundError:
                            pass
            self._jsonl_checked.add(p)
        data = ("\n" + json.dumps(rec, default=str) + "\n").encode()
        for _ in range(8):
            fd = os.open(p, os.O_CREAT | os.O_WRONLY | os.O_APPEND, 0o644)
            try:
                n = os.write(fd, data)
                while n < len(data):  # regular-file writes are effectively
                    n += os.write(fd, data[n:])  # never partial; belt+braces
                st_fd = os.fstat(fd)
            finally:
                os.close(fd)
            try:
                st_path = os.stat(p)
            except FileNotFoundError:
                continue  # renamed away by compaction — re-append
            if (st_path.st_ino, st_path.st_dev) == (st_fd.st_ino, st_fd.st_dev):
                return
        raise RuntimeError(f"manifest append to {p} kept racing log compaction")

    # -- chunk-id allocation ----------------------------------------------
    def claimed_blocks(self, table: str) -> list[int]:
        d = self._dir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.startswith("_idblock-"):
                try:
                    out.append(int(f.split("-", 1)[1]))
                except ValueError:
                    pass
        return out

    def claim_id_block(self, table: str, base: int) -> bool:
        """O_CREAT|O_EXCL block-claim file — a true compare-and-swap on
        any POSIX filesystem; EEXIST sends the loser to the next block."""
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        try:
            fd = os.open(
                os.path.join(d, f"_idblock-{base:012d}"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.close(fd)
            return True
        except FileExistsError:
            return False

    def id_hint(self, table: str) -> int:
        p = os.path.join(self._dir(table), "_next_id")
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip() or 0)
        return 0

    def set_id_hint(self, table: str, value: int) -> None:
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "_next_id")
        # pid alone is not unique across THREADS of one process — two
        # writers sharing a pid would race the same tmp name and one
        # os.replace would find it already consumed
        tmp = p + f".{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(str(value))
        os.replace(tmp, p)  # racing hints may regress; claim files correct it

    def wipe_manifest(self, table: str) -> None:
        """Delete the table's whole manifest directory — part logs, base
        snapshots, id-block claims, hint (rebuild precondition)."""
        import shutil

        d = self._dir(table)
        shutil.rmtree(d, ignore_errors=True)
        self._jsonl_checked = {
            p for p in self._jsonl_checked if not p.startswith(d + os.sep)
        }

    # -- log compaction ----------------------------------------------------
    def acquire_lock(self, path: str, stale: float | None = None) -> bool:
        """O_CREAT|O_EXCL lock file — CAS-acquire; a lock older than
        ``stale`` seconds (crashed holder) is stolen.

        The steal is an atomic ``rename`` to a unique name: exactly ONE of
        N racing stealers wins the rename and the losers retry against
        whatever lock exists next.  A plain unlink-then-create steal is a
        TOCTOU — a second stealer whose staleness check predates the first
        stealer's fresh lock would unlink it, and two compactors folding
        the same partition concurrently can lose manifest records."""
        stale = self.COMPACT_LOCK_STALE_SECONDS if stale is None else stale
        for _ in range(3):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return True
            except FileExistsError:
                try:
                    age = _time.time() - os.stat(path).st_mtime
                except FileNotFoundError:
                    continue  # holder just released — retry
                if age > stale:
                    stolen = f"{path}.stale-{uuid.uuid4().hex[:8]}"
                    try:
                        os.rename(path, stolen)
                    except FileNotFoundError:
                        continue  # another stealer won — retry
                    try:
                        os.unlink(stolen)
                    except FileNotFoundError:
                        pass
                    continue  # we cleared it; race the O_EXCL create
                return False
        return False

    def _fold_into_base(self, table: str, fname: str) -> None:
        """Fold ``.base`` + ``.merge`` into a fresh ``.base`` snapshot
        (tombstones applied via the shared ``fold_records``, duplicates
        dropped), then remove ``.merge``.  Tombstone ids are carried INTO
        the new snapshot — see _save_part.  Idempotent: a crash between
        snapshot and remove re-folds the same records next time (ids are
        never reused, so re-applying is a no-op)."""
        d = self._dir(table)
        adds: list[dict] = []
        drops: set[int] = set()
        for suf in (".base", ".merge"):
            a, dr = self._parse_log(os.path.join(d, fname + suf))
            adds.extend(a)
            drops |= dr
        self._save_part(
            table, fname + ".base", fold_records(adds, drops), drops=drops
        )
        merge = os.path.join(d, fname + ".merge")
        if os.path.exists(merge):
            os.remove(merge)

    def compact(self, table: str) -> int:
        """Shrink each partition's log chain to one ``.base`` snapshot
        (tombstones applied, duplicate re-appends dropped).  Returns the
        number of partitions compacted; 0 if another compactor holds the
        lock (callers just try again next cycle).

        Appenders NEVER block and never lose a record: the live log is
        renamed aside atomically (``.merge``); an appender whose write
        landed on the renamed inode detects the inode change and re-appends
        to the fresh live file (see append_record), and readers always
        read the full ``.base``/``.merge``/live chain, so every protocol
        step — including a crash at any point — leaves all records visible.
        """
        d = self._dir(table)
        if not os.path.isdir(d):
            return 0
        lock = os.path.join(d, "_compact.lock")
        if not self.acquire_lock(lock):
            return 0
        try:
            n = 0
            for fname in self.part_files(table):
                live = os.path.join(d, fname)
                merge = live + ".merge"
                base = live + ".base"
                if os.path.exists(live):
                    if os.path.exists(merge):
                        # crash leftover — fold it away so the rename
                        # target is free
                        self._fold_into_base(table, fname)
                    try:
                        os.rename(live, merge)
                    except FileNotFoundError:
                        pass  # raced a reader-less cleanup; nothing to do
                if not (os.path.exists(merge) or os.path.exists(base)):
                    continue
                self._fold_into_base(table, fname)
                n += 1
            return n
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    # -- whole-object JSON blobs (operations log, retired list) ------------
    def get_json(self, rel_key: str):
        p = os.path.join(self.root, rel_key)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def put_json(self, rel_key: str, obj) -> None:
        p = os.path.join(self.root, rel_key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, p)

    # -- catalog fingerprint ----------------------------------------------
    def version(self) -> int:
        """Stable digest over (relpath, size, mtime_ns) per manifest file
        in sorted order through md5 — STABLE across interpreter restarts
        and processes (Python ``hash()`` of strings is salted per process
        and must not be persisted or compared cross-process).  mtime alone
        has coarse-clock granularity (two writes in one tick would
        collide), but a manifest append/drop always changes the JSON size
        too."""
        import hashlib

        entries: list[tuple] = []
        for dirpath, _dirs, files in os.walk(self.root):
            rel = os.path.relpath(dirpath, self.root)
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except OSError:
                    continue
                entries.append((os.path.join(rel, f), st.st_size, st.st_mtime_ns))
        entries.sort()
        h = hashlib.md5()
        for name, size, mtime in entries:
            h.update(f"{name}\x00{size}\x00{mtime}\n".encode())
        return int.from_bytes(h.digest()[:8], "big")


class TableStore:
    """Chunk store: data files under ``base_dir`` plus a chunk manifest
    served by a pluggable backend.

    Data layout (all backends)::

        base_dir/<table>/chunk-<id>-<uuid>/part-*.parquet  (one sorted chunk)

    The MANIFEST protocol — partition-keyed append-logs, tombstone drops,
    log compaction, CAS chunk-id blocks — lives behind ``backend``:

    - ``PosixManifestBackend`` (default): O_APPEND appends, O_EXCL CAS
      files, rename-based compaction under ``base_dir/_manifest``.
    - ``objstore.ObjectStoreManifestBackend``: one-object-per-record
      appends + conditional-put compaction over any object store (the
      reference's object_store/src abstraction) — no POSIX primitive
      used anywhere.

    Both backends give the same guarantees: concurrent appenders never
    lose records, ids are never handed out twice, compaction never hides
    a record from readers, and tombstones survive folding.
    """

    def __init__(self, base_dir: str, backend=None):
        self.base_dir = base_dir
        self.backend = backend if backend is not None else PosixManifestBackend(base_dir)
        # table -> [next_unused, reserved_limit) id block (see _alloc_chunk_id)
        self._id_blocks: dict[str, list[int]] = {}
        # Per-table pruning counters, the Spark twin of the reference's
        # query_access_pruned_{chunks,rows}_total metric families
        # (server/src/db/access.rs AccessMetrics; asserted by
        # query_tests/src/pruning.rs) — per-process, like a per-server
        # metric registry.  table -> {metric family -> count}.
        self.prune_metrics: dict[str, dict[str, int]] = {}
        # scan-plan LRU: key (see scan) -> (merged frame, output columns)
        self._scan_plans: OrderedDict[tuple, tuple[DataFrame, list[str]]] = OrderedDict()
        self._scan_plans_lock = threading.Lock()
        os.makedirs(base_dir, exist_ok=True)

    def _record_pruned(self, table: str, chunks: "list[ChunkMeta]") -> None:
        if not chunks:
            return
        m = self.prune_metrics.setdefault(
            table,
            {"query_access_pruned_chunks_total": 0, "query_access_pruned_rows_total": 0},
        )
        m["query_access_pruned_chunks_total"] += len(chunks)
        m["query_access_pruned_rows_total"] += sum(c.row_count for c in chunks)

    # -- manifest ---------------------------------------------------------
    def _manifest_dir(self, table: str) -> str:
        return os.path.join(self.base_dir, "_manifest", table)

    @staticmethod
    def _part_file(partition_key: str) -> str:
        """Deterministic, filesystem-safe, COLLISION-FREE file name for one
        partition key (quote is injective; the empty key maps to
        ``part-.json``, never sharing a file with any literal key)."""
        from urllib.parse import quote

        q = quote(partition_key, safe="")
        if len(q) > 80:  # cap pathological keys; md5 keeps it collision-free
            import hashlib

            q = q[:64] + "-" + hashlib.md5(q.encode()).hexdigest()[:16]
        return f"part-{q}.json"

    def _part_files(self, table: str) -> list[str]:
        return self.backend.part_files(table)

    def _load_part(self, table: str, fname: str) -> list[ChunkMeta]:
        """One partition's folded chunk list: the backend performs a
        consistent chain read (inode-validated on POSIX, retry-on-deleted-
        record on object stores); folding — tombstones applied, duplicate
        re-appends dropped by chunk id — is shared ``fold_records``."""
        adds, drops = self.backend.load_part(table, fname)
        return [ChunkMeta(**r) for r in fold_records(adds, drops)]

    def manifest(self, table: str) -> list[ChunkMeta]:
        out: list[ChunkMeta] = []
        for fname in self._part_files(table):
            out.extend(self._load_part(table, fname))
        out.sort(key=lambda c: c.chunk_id)
        return out

    def manifest_partition(self, table: str, partition_key: str) -> list[ChunkMeta]:
        """Chunks of ONE partition — reads exactly one log chain."""
        return self._load_part(table, self._part_file(partition_key))

    def _append_manifest(self, table: str, meta: ChunkMeta) -> None:
        self._append_record(
            table, self._part_file(meta.partition_key), asdict(meta)
        )

    def _append_record(self, table: str, fname: str, rec: dict) -> None:
        """O(1) manifest append — one O_APPEND write (POSIX) or one PUT
        to a unique record object (object store); see the backends."""
        self.backend.append_record(table, fname, rec)

    def catalog_version(self) -> int:
        """Fingerprint of the whole manifest.  Cheap (metadata only, no
        JSON parse) — lets readers cache derived state (e.g. registered
        SQL views) and refresh only when a write actually changed the
        catalog.  Stable across interpreter restarts and processes."""
        return self.backend.version()

    def tables(self) -> list[str]:
        return self.backend.tables()

    def _claimed_blocks(self, table: str) -> list[int]:
        return self.backend.claimed_blocks(table)

    def next_chunk_id(self, table: str) -> int:
        """Lowest id no writer can have handed out yet: max of the hint
        counter, the highest CLAIMED block's end, and (fallback for a
        pre-hint manifest) the manifest scan."""
        cand = self.backend.id_hint(table)
        claimed = self._claimed_blocks(table)
        if claimed:
            cand = max(cand, max(claimed) + self.ID_BLOCK)
        if cand == 0:
            m = self.manifest(table)
            cand = (max(c.chunk_id for c in m) + 1) if m else 0
        return cand

    ID_BLOCK = 64

    def _alloc_chunk_id(self, table: str) -> int:
        """Allocate the next chunk id.  Ids are reserved in blocks of
        ``ID_BLOCK`` per WRITER: a block is claimed through the backend's
        compare-and-swap (O_CREAT|O_EXCL claim file on POSIX,
        put-if-absent on an object store), so two concurrent TableStore
        instances can never claim the same block (a lost CAS sends the
        loser to the next block).  Subsequent allocations are handed out
        from the claimed block in memory.  The claim is durable BEFORE
        any id is handed out, so a crash wastes at most a block of ids
        (gaps are fine — ids only need to be unique) and never reuses one.
        The id hint remains best-effort: it lets next_chunk_id skip the
        manifest scan; it may lag behind the claims, never ahead of
        handed-out ids."""
        blk = self._id_blocks.get(table)
        if blk is not None and blk[0] < blk[1]:
            nxt = blk[0]
            blk[0] += 1
            return nxt
        base = self.next_chunk_id(table)
        base = -(-base // self.ID_BLOCK) * self.ID_BLOCK  # align up to a block
        while not self.backend.claim_id_block(table, base):
            base += self.ID_BLOCK
        self.backend.set_id_hint(table, base + self.ID_BLOCK)
        self._id_blocks[table] = [base + 1, base + self.ID_BLOCK]
        return base

    # -- write ------------------------------------------------------------
    def write_chunk(
        self,
        df: DataFrame,
        table: str,
        schema: IoxSchema,
        partition_key: str = "",
        dedup_batch: bool = True,
        seq_column: str | None = None,
        register: bool = True,
        persisted: bool = False,
        bloom_columns: list[str] | None = None,
    ) -> ChunkMeta:
        """Persist one chunk: within-batch dedup → PK sort → sorted parquet.

        Sorting within partitions before write mirrors the reference writing
        sort-key-ordered chunks (internal_types/src/schema/sort.rs) — parquet
        row-group min/max stats on (tags, time) become tight, so Spark's
        row-group skipping does the fine-grained pruning the read buffer did.

        ``bloom_columns`` writes a parquet BLOOM FILTER for each named
        column — the storage knob for point lookups on HIGH-cardinality
        columns where sorted min/max stats can't discriminate (a
        user_id/trace_id equality probe skips row groups the sort key
        doesn't help with; min/max already covers the sort-leading
        columns, so blooms there would be wasted bytes).  Readers use
        them automatically (parquet-mr side of Spark's scan); cost is a
        few bits/row in the footer region.

        ``register=False`` writes the files but defers the manifest append:
        callers batching several chunks can register them together after ALL
        writes succeed (``register_chunks``), making the batch's VISIBILITY
        atomic — a failure mid-batch leaves only orphaned, unreferenced
        directories (GC-able), never a half-registered batch.
        """
        pk = schema.primary_key
        if dedup_batch:
            df = deduplicate_within(
                df, schema.tag_columns, schema.field_columns, schema.time_column,
                seq_column=seq_column,
            )
        out_cols = [f.name for f in schema.struct.fields if f.name in df.columns]
        df = df.select(*out_cols).sortWithinPartitions(*pk)

        chunk_id = self._alloc_chunk_id(table)
        rel = os.path.join(table, f"chunk-{chunk_id:06d}-{uuid.uuid4().hex[:8]}")
        path = os.path.join(self.base_dir, rel)
        writer = df.write.mode("errorifexists")
        for c in bloom_columns or []:
            if c not in out_cols:
                raise ValueError(f"bloom column {c!r} not in chunk columns")
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(path)

        # Stats for ALL columns (not just the PK): field min/max enable the
        # scan's field-stat chunk pruning (the pruning.rs behavior), and the
        # footers already carry them — no extra cost.
        row_count, stats, col_bytes = self._stats_from_footers(path, out_cols)
        tag_catalog = self._collect_tag_catalog(
            df.sparkSession, path, schema, out_cols
        )
        est_bytes = _dir_parquet_bytes(path)
        meta = ChunkMeta(
            chunk_id=chunk_id,
            path=rel,
            table=table,
            partition_key=partition_key,
            row_count=row_count,
            stats=stats,
            sorted_by=pk,
            created_at=_time.time(),
            tag_values=tag_catalog,
            estimated_bytes=est_bytes,
            persisted=persisted,
            column_bytes=col_bytes,
        )
        self._write_chunk_sidecar(meta)
        if register:
            self._append_manifest(table, meta)
        return meta

    def register_chunks(self, table: str, metas: list[ChunkMeta]) -> None:
        """Append deferred chunk metas (see write_chunk(register=False))."""
        for m in metas:
            self._append_manifest(table, m)

    def write_chunks_partitioned(
        self,
        df: DataFrame,
        table: str,
        schema: IoxSchema,
        key_col: str = "__part_key",
        dedup_batch: bool = True,
        seq_column: str | None = None,
        register: bool = True,
    ) -> list[ChunkMeta]:
        """Persist a batch spanning MANY partition keys as one chunk per key
        — in ONE Spark write job (vs. write_chunk's one job per chunk).

        The backfill shape: ``partitionBy(key_col)`` fans rows out to
        per-key files inside a staging dir; ``sortWithinPartitions(key,
        pk…)`` keeps every written file PK-sorted WITHOUT a shuffle (each
        task writes one sorted file per key it holds), so row-group stats
        stay as tight as write_chunk's.  Tag catalogs for ALL keys come from
        one grouped aggregation job.  Each staged key directory is then
        renamed into a normal chunk dir (driver-side metadata op on a
        filesystem; an object store deployment would register the staged
        prefix directly instead).  Visibility is unchanged: nothing is
        queryable until the manifest append, and a mid-write crash leaves
        only an orphaned, unreferenced staging dir.
        """
        from urllib.parse import unquote

        pk = schema.primary_key
        if dedup_batch:
            # key_col is a pure function of the primary key (partition
            # template over time/tag/table), so grouping by it too keeps the
            # dedup groups identical while carrying the key through.
            df = deduplicate_within(
                df, [*schema.tag_columns, key_col], schema.field_columns,
                schema.time_column, seq_column=seq_column,
            )
        out_cols = [f.name for f in schema.struct.fields if f.name in df.columns]
        staging = os.path.join(
            self.base_dir, table, f"_bulk-{uuid.uuid4().hex[:8]}"
        )
        (
            df.select(*out_cols, key_col)
            .sortWithinPartitions(key_col, *pk)
            .write.mode("errorifexists")
            .partitionBy(key_col)
            .parquet(staging)
        )

        # one job for every key's tag catalog (vs one per chunk)
        tags = [t for t in schema.tag_columns if t in df.columns]
        catalogs: dict[str, dict[str, list | None]] = {}
        if tags:
            rows = (
                df.groupBy(key_col)
                .agg(*[F.collect_set(t).alias(t) for t in tags])
                .collect()
            )
            for r in rows:
                # Normalize the collected key exactly like the
                # directory-derived part_key below (null/empty Hive partition
                # → "") so catalogs.get(part_key) matches for null keys.
                catalogs[r[key_col] or ""] = {
                    t: (sorted(r[t]) if len(r[t]) <= self.TAG_CATALOG_CAP else None)
                    for t in tags
                }

        metas: list[ChunkMeta] = []
        for dname in sorted(os.listdir(staging)):
            if not dname.startswith(f"{key_col}="):
                continue
            raw = unquote(dname.split("=", 1)[1])
            part_key = "" if raw == "__HIVE_DEFAULT_PARTITION__" else raw
            chunk_id = self._alloc_chunk_id(table)
            rel = os.path.join(table, f"chunk-{chunk_id:06d}-{uuid.uuid4().hex[:8]}")
            os.rename(os.path.join(staging, dname), os.path.join(self.base_dir, rel))
            row_count, stats, col_bytes = self._stats_from_footers(
                os.path.join(self.base_dir, rel), out_cols
            )
            metas.append(
                ChunkMeta(
                    chunk_id=chunk_id,
                    path=rel,
                    table=table,
                    partition_key=part_key,
                    row_count=row_count,
                    stats=stats,
                    sorted_by=pk,
                    created_at=_time.time(),
                    tag_values=catalogs.get(part_key, {}),
                    estimated_bytes=_dir_parquet_bytes(
                        os.path.join(self.base_dir, rel)
                    ),
                    column_bytes=col_bytes,
                )
            )
        # staging now holds only the _SUCCESS marker — remove it
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        for m in metas:
            self._write_chunk_sidecar(m)
        if register:
            self.register_chunks(table, metas)
        return metas

    #: chunk-dir sidecar file name; the leading underscore makes Spark's
    #: parquet reader skip it (like _SUCCESS)
    IOX_META_FILE = "_iox_metadata.json"

    def _write_chunk_sidecar(self, meta: ChunkMeta) -> None:
        """Self-describing chunk metadata, written INTO the chunk
        directory — the Spark twin of the reference embedding
        IoxParquetMetaData in the parquet footer
        (parquet_file/src/metadata.rs:1-60): Spark's distributed writer
        owns the footers, so the engine-level metadata (partition key,
        sort key, tag catalog…) rides a sidecar object on the DATA plane
        instead.  Consumed only by ``rebuild_manifest`` (disaster
        recovery, parquet_file/src/rebuild.rs); the manifest stays the
        sole authority while it exists."""
        p = os.path.join(self.base_dir, meta.path, self.IOX_META_FILE)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            # default=str matches the manifest's own record serialization
            # (Decimal stats from uint64-exact chunks land as strings in
            # BOTH places, so a rebuilt ChunkMeta equals a folded one)
            json.dump(asdict(meta), f, default=str)
        os.replace(tmp, p)

    def wipe_manifest(self, table: str) -> None:
        """Remove EVERY manifest artifact for a table — records, base
        snapshots, id-block claims, id hint.  The rebuild precondition:
        like the reference's PreservedCatalog::wipe (catalog.rs), rebuild
        refuses to run over a non-empty manifest."""
        self.backend.wipe_manifest(table)
        self._id_blocks.pop(table, None)

    # -- predicate deletes (tombstones) ------------------------------------
    #: per-table tombstone append-log.  The name does NOT start with
    #: "part-", so manifest()/compaction never mistake it for a chunk
    #: partition log; it still gets the backends' full chain-read /
    #: record-object machinery for free.
    TOMBSTONE_LOG = "deletes.json"

    def delete_predicate(self, table, dpred, sequence: int | None = None) -> dict:
        """Register a delete: rows of ``table`` matching ``dpred``
        (plans.predicate.DeletePredicate) disappear from every
        subsequent scan — applied as an anti-filter at read time
        (tombstone), folded away physically by compaction.

        The reference declares exactly this wire shape — per-table
        ``Delete{table_name, predicate}`` entries
        (entry/src/entry.fbs:37-44) — without executing it in v0; the
        execution here follows the tombstone design its successor
        adopted: deletes are metadata, data files are immutable.

        Scope: the tombstone snapshots the CURRENTLY REGISTERED chunk
        ids and applies only to them — rows written (or chunks
        registered) after the delete are untouched, so a re-insert of a
        deleted row is visible.  That is the sequence semantics at chunk
        granularity, recorded explicitly instead of per-row sequence
        numbers.  ``sequence`` (the write-buffer position, when the
        delete arrived through a sequenced topic) is recorded for
        replay/audit."""
        ids = [c.chunk_id for c in self.manifest(table)]
        rec = {
            # the fold key — shared with chunk records' fold machinery;
            # uuid cannot collide with integer chunk ids
            "chunk_id": f"ts-{uuid.uuid4().hex}",
            "table": table,
            "predicate": dpred.to_dict(),
            "sequence": sequence,
            "created_at": _time.time(),
            "chunk_ids": ids,
        }
        # Data-plane sidecar FIRST, manifest record second: an
        # acknowledged delete can then never resurrect rows through a
        # manifest loss + rebuild (the reference accepts resurrection —
        # rebuild.rs "No Removals" — because its catalog is the only
        # holder of delete facts; a torn write here leaves at worst an
        # unacknowledged-but-recoverable tombstone, and deletes are
        # idempotent metadata).
        self._write_tombstone_sidecar(table, rec)
        self.backend.append_record(table, self.TOMBSTONE_LOG, rec)
        return rec

    #: data-plane directory (per table) holding one JSON object per live
    #: tombstone — the delete twin of the chunk-dir ``_iox_metadata.json``
    #: sidecar, consumed only by ``rebuild_manifest``.  The leading
    #: underscore keeps Spark's parquet reader away; the name doesn't
    #: match ``chunk-*`` so the rebuild chunk scan skips it.
    DELETES_DIR = "_deletes"

    def _write_tombstone_sidecar(self, table: str, rec: dict) -> None:
        d = os.path.join(self.base_dir, table, self.DELETES_DIR)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{rec['chunk_id']}.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f, default=str)
        os.replace(tmp, p)

    def _drop_tombstone_sidecars(self, table: str, tombstone_ids) -> None:
        d = os.path.join(self.base_dir, table, self.DELETES_DIR)
        for tid in tombstone_ids:
            try:
                os.remove(os.path.join(d, f"{tid}.json"))
            except OSError:
                pass  # already gone / never written — drop is best-effort

    def tombstone_sidecars(self, table: str) -> list[dict]:
        """Tombstone records recovered from the data plane, oldest first
        (created_at then id — the order ``tombstones()`` reports)."""
        d = os.path.join(self.base_dir, table, self.DELETES_DIR)
        if not os.path.isdir(d):
            return []
        recs = []
        for fname in os.listdir(d):
            if not fname.endswith(".json"):
                continue  # .tmp of a torn write
            with open(os.path.join(d, fname)) as f:
                recs.append(json.load(f))
        recs.sort(key=lambda r: (r.get("created_at", 0), r["chunk_id"]))
        return recs

    def tombstones(self, table: str) -> list[dict]:
        """Live tombstones (applied drops folded out), oldest first.

        Cost note: every scan (and the metadata guards) reads this log —
        on POSIX that is a couple of stat() calls for the common
        no-deletes case; on an object store it is one LIST round trip
        per call.  Deliberately NOT cached: a cache would trade the
        strong read-your-deletes consistency every other manifest read
        has for one LIST, and deletes are rare enough that compaction's
        gc_tombstones keeps the log at/near empty."""
        adds, drops = self.backend.load_part(table, self.TOMBSTONE_LOG)
        return fold_records(adds, drops)

    def drop_tombstones(self, table: str, tombstone_ids: list[str]) -> None:
        self.backend.append_record(
            table, self.TOMBSTONE_LOG, {"__drop__": list(tombstone_ids)}
        )
        # retire the data-plane twins too, so a later rebuild does not
        # re-register tombstones the manifest already folded away
        self._drop_tombstone_sidecars(table, tombstone_ids)

    def has_tombstoned_chunks(self, table: str, chunk_ids) -> bool:
        """True if any live tombstone's snapshot intersects ``chunk_ids``
        — the single guard the metadata fast paths (table_names /
        tag_keys / catalog_tag_values) use to decide whether write-time
        catalogs and row counts can still be trusted, or whether only a
        tombstone-filtered scan can answer."""
        ids = set(chunk_ids)
        return any(ids & set(t["chunk_ids"]) for t in self.tombstones(table))

    def gc_tombstones(self, table: str, only_ids=None) -> int:
        """Retire tombstones none of whose snapshot chunks are still
        live — every row they deleted is physically gone (compacted away
        or dropped), so the scan-time anti-filter is pure overhead.
        Idempotent; returns tombstones retired.

        ``only_ids`` restricts retirement to tombstones a caller KNOWS
        it applied (a reorg job passes the ids it loaded at start): a
        tombstone registered MID-JOB snapshots the job's inputs, and
        unrestricted GC would retire it after the drop even though its
        rows survive unfiltered in the job's output — a silently lost
        delete (see retarget_tombstones for the companion fix)."""
        live = {c.chunk_id for c in self.manifest(table)}
        dead = [
            t["chunk_id"]
            for t in self.tombstones(table)
            if not (set(t["chunk_ids"]) & live)
            and (only_ids is None or t["chunk_id"] in only_ids)
        ]
        if dead:
            self.drop_tombstones(table, dead)
        return len(dead)

    def retarget_tombstones(
        self,
        table: str,
        dropped_ids: list[int],
        successor_ids: list[int],
        exclude_ids,
    ) -> int:
        """Re-point tombstones whose snapshot lost chunks to a rewrite.

        A reorg (compact/persist) rewrites input chunks into successors;
        a tombstone registered WHILE the job ran snapshots those inputs
        but was not applied during the rewrite, so its rows survive in
        the successors.  For every live tombstone outside ``exclude_ids``
        (the ones the job DID apply) intersecting ``dropped_ids``, append
        a replacement whose snapshot swaps the dropped inputs for the
        successors — the delete stays effective against the rewritten
        data.  Correct because successors' rows derive only from inputs
        that were live (and thus in the tombstone's snapshot) when the
        delete arrived.  Returns tombstones retargeted."""
        dropped = set(dropped_ids)
        n = 0
        for t in self.tombstones(table):
            if t["chunk_id"] in exclude_ids or not (set(t["chunk_ids"]) & dropped):
                continue
            new_ids = sorted(
                (set(t["chunk_ids"]) - dropped) | set(successor_ids)
            )
            # fold keeps the FIRST record per id, so replacement = drop
            # the old id + append under a fresh one
            replacement = dict(t)
            replacement["chunk_id"] = f"ts-{uuid.uuid4().hex}"
            replacement["chunk_ids"] = new_ids
            self._write_tombstone_sidecar(table, replacement)
            self.backend.append_record(table, self.TOMBSTONE_LOG, replacement)
            self.drop_tombstones(table, [t["chunk_id"]])
            n += 1
        return n

    def apply_tombstones(
        self, df: DataFrame, chunk_id: int, tomb: dict, time_col: str
    ) -> DataFrame:
        """Apply one chunk's delete anti-filters (``tomb`` from
        _tombstones_for_chunks) — the single definition shared by the
        scan path and both reorg rewrites.

        A predicate referencing a column this table does not have (a
        multi-table HTTP delete fans out to every table; gRPC entries
        validate table names but not columns) deletes NOTHING here
        rather than poisoning the scan — see
        DeletePredicate.deletes_nothing_on (the clean-path grouping in
        ``table()`` applies the same rule)."""
        for _, dp in tomb.get(chunk_id, []):
            if dp.deletes_nothing_on(df.columns):
                continue
            df = df.filter(dp.keep_column(time_col))
        return df

    def _tombstones_for_chunks(
        self, table: str, chunks: "list[ChunkMeta]"
    ) -> dict[int, list]:
        """chunk_id -> [(tombstone_id, DeletePredicate)] applicable at
        scan time, in tombstone order."""
        from influxdb_iox_spark.plans.predicate import DeletePredicate

        stones = self.tombstones(table)
        if not stones:
            return {}
        out: dict[int, list] = {}
        for t in stones:
            pred = DeletePredicate.from_dict(t["predicate"])
            targets = set(t["chunk_ids"])
            for c in chunks:
                if c.chunk_id in targets:
                    out.setdefault(c.chunk_id, []).append((t["chunk_id"], pred))
        return out

    TAG_CATALOG_CAP = 1000

    def _collect_tag_catalog(
        self, spark: SparkSession, path: str, schema: IoxSchema,
        columns: list[str],
    ) -> dict[str, list | None]:
        """Distinct tag values per tag for the just-written chunk, whose
        columns are ``columns``: a tag the chunk lacks gets no entry.

        One column-pruned Spark job over the sorted chunk (tags are
        dictionary-encoded in parquet, so this reads dictionaries, not data);
        the chunk is opened with the registered schema, so no job infers it.
        High-cardinality tags overflow the cap and are recorded as None →
        metadata path falls back to a scan, exactly like the reference
        returning 'unknown' from metadata-only evaluation.
        """
        tags = [t for t in schema.tag_columns if t in columns]
        if not tags:
            return {}
        chunk_df = spark.read.schema(schema.struct).parquet(path)
        row = chunk_df.agg(*[F.collect_set(t).alias(t) for t in tags]).first()
        out: dict[str, list | None] = {}
        for t in tags:
            vals = row[t]
            out[t] = sorted(vals) if len(vals) <= self.TAG_CATALOG_CAP else None
        return out

    def catalog_tag_values(
        self, table: str, tag: str, partition_key: str | None = None
    ) -> list[str] | None:
        """Union of per-chunk tag catalogs; None if any chunk overflowed
        (caller must fall back to a scan).  With partition_key, only chunks
        of that partition contribute; a chunk with an empty/unknown key MAY
        hold rows of any partition, so its presence makes the catalog
        insufficient (returns None).  Note the data-scan path has the same
        over-inclusion for partition keys — prune_chunks conservatively
        includes ""-key chunks and no row-level partition filter corrects
        that afterward (time ranges and exprs DO get row-filtered) — which
        is why the lifecycle policy compacts/persists strictly within one
        partition key and never mints ""-key chunks."""
        values: set[str] = set()
        chunks = self.manifest(table)
        if partition_key:
            if any(not c.partition_key for c in chunks):
                return None
            chunks = [c for c in chunks if c.partition_key == partition_key]
        if not chunks:
            return []
        # a delete tombstone targeting any contributing chunk may have
        # removed the rows carrying some catalog value — write-time
        # catalogs cannot answer; only a (tombstone-filtered) scan can
        if self.has_tombstoned_chunks(table, (c.chunk_id for c in chunks)):
            return None
        for c in chunks:
            v = c.tag_values.get(tag)
            if v is None:
                return None
            values.update(v)
        return sorted(values)

    @staticmethod
    def _stats_from_footers(
        path: str, columns: list[str]
    ) -> tuple[int, dict, dict]:
        """Row count, per-column min/max, and per-column compressed byte
        sizes from parquet footers (no Spark job).  Sizes are recorded in
        the manifest so system.chunk_columns never re-opens footers."""
        import pyarrow.parquet as pq

        total = 0
        ranges: dict[str, list | None] = {}  # col -> [min, max] or None = unknown
        col_bytes: dict[str, int] = {}
        for fname in os.listdir(path):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fname)).metadata
            total += md.num_rows
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    cc = g.column(ci)
                    name = cc.path_in_schema.split(".")[0]
                    col_bytes[name] = (
                        col_bytes.get(name, 0) + cc.total_compressed_size
                    )
                for col in columns:
                    ci = idx.get(col)
                    if ci is None or ranges.get(col, _SENTINEL) is None:
                        continue
                    st = g.column(ci).statistics
                    if st is None or not st.has_min_max:
                        ranges[col] = None  # unknown forever (conservative)
                        continue
                    cur = ranges.get(col, _SENTINEL)
                    if cur is _SENTINEL:
                        ranges[col] = [st.min, st.max]
                    else:
                        cur[0] = min(cur[0], st.min)
                        cur[1] = max(cur[1], st.max)
        stats = {c: (r if r is not None else [None, None]) for c, r in ranges.items()}
        return total, stats, col_bytes

    # -- read / scan ------------------------------------------------------
    def read_chunk(
        self, spark: SparkSession, meta: ChunkMeta, schema: IoxSchema
    ) -> DataFrame:
        """One chunk under the registered table schema.  Opening it runs no
        Spark job (no footer inference); a column the chunk lacks reads as
        null, like the scan's clean-chunk relation."""
        return spark.read.schema(schema.struct).parquet(
            os.path.join(self.base_dir, meta.path)
        )

    def prune_chunks(
        self, table: str, predicate: Predicate | None, time_column: str = "time"
    ) -> list[ChunkMeta]:
        """Manifest-level chunk pruning (query/src/pruning.rs:30-110).

        Drops chunks whose time-range stats cannot satisfy the predicate's
        time range, and chunks in other partitions when a partition key is
        given.  Expression pruning beyond time is left to parquet row-group
        stats (same outcome, zero extra code).
        """
        chunks = self.manifest(table)
        if predicate is None:
            return chunks
        out = []
        pruned = []
        for c in chunks:
            # An empty chunk partition_key means "unknown / spans partitions"
            # (e.g. a compaction that merged mixed-key inputs) — never prune
            # those on partition key, only on stats.
            if (
                predicate.partition_key
                and c.partition_key
                and c.partition_key != predicate.partition_key
            ):
                pruned.append(c)
                continue
            if predicate.range is not None:
                r = c.column_range(time_column)
                if r is not None and r[0] is not None and r[1] is not None:
                    lo, hi = int(r[0]), int(r[1])
                    if hi < predicate.range.start or lo >= predicate.range.end:
                        pruned.append(c)
                        continue
            out.append(c)
        self._record_pruned(table, pruned)
        return out

    def scan(
        self,
        spark: SparkSession,
        table: str,
        schema: IoxSchema,
        predicate: Predicate | None = None,
    ) -> DataFrame:
        """Dedup-correct scan of one table (the ChunkTableProvider equivalent).

        Chunk pruning, tombstone lookup, overlap grouping and field-stat
        pruning run on every call (manifest metadata on the driver, so a
        write is visible to the next scan).  The merged, deduped,
        tombstone-filtered frame they select — everything before
        ``predicate.apply`` — is planned once per chunk set and reused from
        a bounded LRU (``SCAN_PLAN_CACHE_SIZE``): an unchanged store is not
        re-planned per request.  The predicate and the final projection are
        applied per call on top, so Catalyst still pushes the predicate into
        the parquet scan.

        The cache key is the session, the table, the registered schema
        (struct and metadata) and, per surviving group, each member's
        ``(chunk_id, path, applied tombstone ids)``.  That fully determines
        the plan: chunk directories are immutable and their paths carry a
        uuid, and a tombstone id is a uuid whose predicate never changes.
        So a register, delete, compaction, drop or GC yields a different key
        by construction and needs no invalidation (``catalog_version()``
        would add nothing but a whole-manifest stat walk per call, and it
        changes on writes to OTHER tables too).  Only the plan is cached:
        no ``cache()``/``persist()``, so a hit still reads the files."""
        chunks = self.prune_chunks(table, predicate, schema.time_column)
        if not chunks:
            return spark.createDataFrame([], schema.struct)
        # chunk_id -> [(tombstone_id, DeletePredicate)]: delete anti-
        # filters are applied PER CHUNK (a tombstone binds to the chunks
        # registered when the delete arrived) and BEFORE dedup — a
        # deleted row must not contribute fields to a last-non-null merge
        tomb = self._tombstones_for_chunks(table, chunks)

        clean: list[ChunkMeta] = []
        dirty: list[list[ChunkMeta]] = []
        for g in group_potential_duplicates(chunks, schema.primary_key):
            members = [chunks[i] for i in g]
            if len(members) > 1:
                dirty.append(sorted(members, key=lambda m: m.chunk_id))
            # Field-stat chunk pruning (query/src/pruning.rs): drop a
            # chunk whose column stats are provably disjoint with the
            # predicate's structured bounds.  ONLY safe for clean
            # (non-overlapping) chunks — a dirty chunk's fields can
            # survive into last-non-null merged rows whose OTHER fields
            # make the predicate true, so pruning it would corrupt the
            # merge.  (Time/partition pruning is exempt: those columns
            # are part of the dedup key, so a pruned row's merge twins
            # are outside the range too.)
            elif predicate is not None and predicate.excludes_stats(
                members[0].stats
            ):
                self._record_pruned(table, members)
            else:
                clean.append(members[0])
        if not clean and not dirty:  # every chunk field-pruned
            return spark.createDataFrame([], schema.struct)

        def ident(m: ChunkMeta) -> tuple:
            return (
                m.chunk_id, m.path, tuple(tid for tid, _ in tomb.get(m.chunk_id, []))
            )

        key = (
            spark,
            table,
            schema.struct.json(),
            tuple(ident(m) for m in clean),
            tuple(tuple(ident(m) for m in g) for g in dirty),
        )
        with self._scan_plans_lock:
            entry = self._scan_plans.get(key)
            if entry is not None:
                self._scan_plans.move_to_end(key)
        if entry is None:
            # built outside the lock: two threads missing on one key both
            # build (identical plans), the later insert wins — harmless
            base = self._plan_scan(spark, schema, clean, dirty, tomb)
            entry = (base, [f.name for f in schema.struct.fields if f.name in base.columns])
            with self._scan_plans_lock:
                self._scan_plans[key] = entry
                while len(self._scan_plans) > SCAN_PLAN_CACHE_SIZE:
                    self._scan_plans.popitem(last=False)
        out, cols = entry
        if predicate is not None:
            out = predicate.apply(out, schema.time_column)
        return out.select(*cols)

    def _plan_scan(
        self,
        spark: SparkSession,
        schema: IoxSchema,
        clean: "list[ChunkMeta]",
        dirty: "list[list[ChunkMeta]]",
        tomb: dict[int, list],
    ) -> DataFrame:
        """The merged frame ``scan`` caches: clean chunks as multi-path
        parquet relations, each overlap group (members in chunk-id order)
        deduplicated, all unioned by name."""
        # Batch every clean (non-overlapping) chunk into ONE multi-path
        # parquet relation PER TOMBSTONE SET: driver planning cost and the
        # plan's relation count stay O(#distinct tombstone sets) — O(1)
        # without deletes, one extra relation per delete generation after —
        # instead of O(n) per-chunk unions; at 10^4-10^5 chunks the
        # per-chunk DataFrame+union approach spends minutes in the driver
        # before a single task runs.
        clean_paths: dict[tuple, list[str]] = {}
        for m in clean:
            key = tuple(tid for tid, _ in tomb.get(m.chunk_id, []))
            clean_paths.setdefault(key, []).append(os.path.join(self.base_dir, m.path))
        parts: list[DataFrame] = [
            deduplicate(
                merge_chunk_frames([
                    self.apply_tombstones(
                        self.read_chunk(spark, m, schema), m.chunk_id, tomb,
                        schema.time_column,
                    ).withColumn(DEDUP_ORDER_COLUMN, F.lit(m.chunk_id))
                    for m in members
                ]),
                schema.tag_columns,
                schema.field_columns,
                schema.time_column,
            )
            for members in dirty
        ]

        stone_by_id = {
            tid: dp for lst in tomb.values() for tid, dp in lst
        }
        for key, paths in sorted(clean_paths.items()):
            # Explicit schema, NOT mergeSchema: mergeSchema reads every
            # file's footer on the driver (measured ~13 s at 10^4 chunks);
            # the registered table schema is authoritative and the reader
            # null-fills columns a pre-extension chunk lacks.
            relation = spark.read.schema(schema.struct).parquet(*paths)
            for tid in key:
                dp = stone_by_id[tid]
                if dp.deletes_nothing_on(schema.struct.fieldNames()):
                    continue  # unknown-column predicate matches no row
                relation = relation.filter(dp.keep_column(schema.time_column))
            parts.insert(0, relation)
        return merge_chunk_frames(parts)

    def drop_chunks(
        self,
        table: str,
        chunk_ids: list[int],
        delete_files: bool = True,
        defer_delete_seconds: float = 0.0,
    ) -> None:
        """Remove chunks from the manifest, then delete their directories.

        Deletion happens AFTER the manifest swap succeeds so a crash leaves
        orphaned-but-unreferenced files (GC-able), never a manifest pointing
        at missing data.  Continuous compaction would otherwise grow disk
        unboundedly — every compact rewrites its inputs.

        The manifest mutation is an APPENDED ``{"__drop__": [ids]}``
        tombstone per affected partition log — O(1), safe against
        concurrent appenders (no rewrite can lose their records); the log
        chain is shrunk later by ``compact_manifest``.

        Concurrency note on FILES: immediate deletion assumes the
        no-concurrent-reader deployment (a lazy DataFrame still referencing
        a retired chunk path fails at action time).  When queries run
        alongside compaction, pass ``defer_delete_seconds > 0``: retired
        paths are parked in ``_retired.json`` and reclaimed by
        ``gc_retired`` once the grace period (longer than any query) passes.
        """
        ids = set(chunk_ids)
        dropped: list[ChunkMeta] = []
        for fname in self._part_files(table):
            hit = [c for c in self._load_part(table, fname) if c.chunk_id in ids]
            if hit:
                dropped.extend(hit)
                self._append_record(
                    table,
                    fname,
                    {"__drop__": sorted(c.chunk_id for c in hit)},
                )
        if not delete_files:
            return
        if defer_delete_seconds > 0:
            self._park_retired(table, [c.path for c in dropped])
            self.gc_retired(table, defer_delete_seconds)
            return
        import shutil

        for c in dropped:
            shutil.rmtree(os.path.join(self.base_dir, c.path), ignore_errors=True)

    # -- manifest log compaction -------------------------------------------
    COMPACT_LOCK_STALE_SECONDS = PosixManifestBackend.COMPACT_LOCK_STALE_SECONDS

    def _acquire_lock(self, path: str, stale: float | None = None) -> bool:
        """POSIX lock-file CAS with atomic stale-steal (delegates to the
        POSIX backend; object-store compaction needs no lock — its
        conditional PUT is the serialization)."""
        return self.backend.acquire_lock(path, stale)

    def compact_manifest(self, table: str) -> int:
        """Shrink each partition's manifest log to one folded snapshot
        (tombstones applied, duplicate re-appends dropped).  Returns the
        number of partitions compacted; 0 when another compactor won
        (lock held on POSIX, conditional PUT lost on an object store) —
        callers just try again next cycle.  Appenders never block and
        never lose a record on either backend."""
        return self.backend.compact(table)

    # -- operations log (system.operations backing store) ------------------
    OPERATIONS_CAP = 1000

    def record_operation(
        self,
        job: str,
        table: str,
        partition_key: str,
        chunk_ids: list[int],
        status: str,
        wall_nanos: int,
        description: str = "",
    ) -> dict:
        """Append one background-job record (the JobRegistry equivalent —
        ref data_types/src/job.rs + server/src/db/system_tables.rs:465-559).

        Persisted JSON (last OPERATIONS_CAP entries) rather than in-memory,
        so ``system.operations`` survives restarts; appends are O(cap).
        """
        entry = {
            "id": uuid.uuid4().hex[:16],
            "job": job,
            "status": status,
            "table_name": table,
            "partition_key": partition_key,
            "chunk_ids": chunk_ids,
            "wall_nanos": wall_nanos,
            "description": description,
            "recorded_at": _time.time(),
        }
        entries = self.backend.get_json("_operations.json") or []
        entries.append(entry)
        self.backend.put_json(
            "_operations.json", entries[-self.OPERATIONS_CAP:]
        )
        return entry

    def operations(self) -> list[dict]:
        return self.backend.get_json("_operations.json") or []

    def _park_retired(self, table: str, paths: list[str]) -> None:
        key = f"{table}/_retired.json"
        entries = self.backend.get_json(key) or []
        now = _time.time()
        entries.extend({"path": rel, "retired_at": now} for rel in paths)
        self.backend.put_json(key, entries)

    def gc_retired(self, table: str, grace_seconds: float) -> int:
        """Delete parked chunk directories older than ``grace_seconds``.

        Safe to call on any schedule (idempotent); returns directories
        reclaimed this sweep.
        """
        key = f"{table}/_retired.json"
        entries = self.backend.get_json(key)
        if entries is None:
            return 0
        import shutil

        cutoff = _time.time() - grace_seconds
        keep, reclaimed = [], 0
        for e in entries:
            if e["retired_at"] <= cutoff:
                shutil.rmtree(
                    os.path.join(self.base_dir, e["path"]), ignore_errors=True
                )
                reclaimed += 1
            else:
                keep.append(e)
        self.backend.put_json(key, keep)
        return reclaimed

    # -- bucketed projections ----------------------------------------------
    # A bucketed projection is a MATERIALIZED, co-location-preserving copy
    # of one table's dedup-correct scan: written once (hash-bucketed by the
    # join key, one file per bucket, bucket-sorted), joined/aggregated on
    # that key forever after with zero Exchange and zero Sort (the sf10
    # finding promoted from scripts/bench_bucketed_sf10.py, BENCH_NOTES
    # §17b).  The Spark twin of the reference loading chunks into the
    # sorted read_buffer as an explicit lifecycle action
    # (read_buffer/src/row_group.rs — data reorganized once at load so
    # per-key operators never re-sort): a snapshot as of write time; new
    # chunks do not appear until the projection is rewritten, which is the
    # lifecycle's job, not the query path's.

    def _bucketed_dir(self, table: str, name: str) -> str:
        # leading underscore keeps it invisible to chunk-dir sweeps
        return os.path.join(self.base_dir, table, "_bucketed", name)

    def write_bucketed_projection(
        self,
        spark: SparkSession,
        table: str,
        schema: IoxSchema,
        bucket_columns: list[str],
        n_buckets: int = 32,
        sort_columns: list[str] | None = None,
        name: str = "default",
        predicate: Predicate | None = None,
    ) -> dict:
        """Materialize the table's dedup-correct scan as a bucketed layout
        (one file per bucket — enforced) and record the operation.  Returns
        the on-disk spec.  Size buckets so one bucket of the LARGEST table
        fits an executor's scan partition (~n_rows/n_buckets · row width ≤
        maxPartitionBytes); co-joining tables must use the SAME count."""
        from influxdb_iox_spark.sources.bucketed import read_spec, write_bucketed

        df = self.scan(spark, table, schema, predicate)
        path = self._bucketed_dir(table, name)
        t0 = _time.perf_counter()
        write_bucketed(
            df,
            f"{table}__bk_{name}",
            path,
            bucket_columns,
            n_buckets,
            sort_columns,
        )
        self.record_operation(
            job="bucketed_projection",
            table=table,
            partition_key=name,
            chunk_ids=[c.chunk_id for c in self.manifest(table)],
            status="Success",
            wall_nanos=int((_time.perf_counter() - t0) * 1e9),
            description=(
                f"bucketBy({n_buckets}, {','.join(bucket_columns)}) "
                "one-file-per-bucket"
            ),
        )
        return read_spec(path)

    def bucketed_projection(
        self, spark: SparkSession, table: str, name: str = "default"
    ) -> DataFrame:
        """Open a previously written bucketed projection, re-registering
        its catalog entry from the on-disk spec when this session has none
        (bucket metadata lives in the catalog; a bare parquet read would
        silently lose co-location)."""
        from influxdb_iox_spark.sources.bucketed import register_bucketed

        return register_bucketed(spark, self._bucketed_dir(table, name))

    def bucketed_projections(self, table: str) -> list[dict]:
        """Specs of every bucketed projection recorded for ``table``."""
        from influxdb_iox_spark.sources.bucketed import SPEC_FILE, read_spec

        root = os.path.join(self.base_dir, table, "_bucketed")
        if not os.path.isdir(root):
            return []
        return [
            read_spec(os.path.join(root, d))
            for d in sorted(os.listdir(root))
            if os.path.exists(os.path.join(root, d, SPEC_FILE))
        ]


_SENTINEL = object()
