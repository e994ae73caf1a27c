"""The registrar reborn — checkpoint/lineage metadata table (O-X1..O-X4).

The reference persists ``map[source]FileState`` as JSON via
write-temp-then-atomic-rename (/root/reference/registrar.go:38-51,
registrar_other.go:9-15) and, only after the ack, folds acked events into it
(/root/reference/publisher1.go:126). Here the same trick backs a parquet
metadata table: each sink commit appends one immutable parquet file of
per-(partition, source) records, published with ``os.replace`` (atomic on
POSIX). The records are the run's only aggregate: lineage is their roll-up
over source, the run's ``_metrics`` their roll-up over partition.
Iceberg's metadata swap would give this for free; the parquet+rename
fallback keeps the identical interface without the runtime jar (SURVEY
§7.3 hard part 5).

Crucially the commit ordering is the *reverse* of the reference's bug
surface: the reference acks then writes state (duplicate window on crash,
SURVEY §3.4) — we publish data atomically first and the checkpoint row
second, and resume treats an unreferenced published dir as garbage to
delete-and-redo, so routed-row delivery is exactly-once.
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("run_id", pa.string(), nullable=False),
        pa.field("sink", pa.string(), nullable=False),
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("row_count", pa.int64(), nullable=False),
        pa.field("token_total", pa.int64(), nullable=False),
        pa.field("committed_at", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)
# A commit record: one lineage row split by source, plus its max token
# count. ``source`` is null in empty-sink markers (partition_id = -1) and
# in commit files written before records carried it.
_RECORD_SCHEMA = _ARROW_SCHEMA.append(pa.field("source", pa.string())).append(
    pa.field("max_tokens", pa.int64())
)


def _roll_up(t: pa.Table, keys: list[str], aggs: dict[str, str]) -> pa.Table:
    """Group ``t`` by ``keys``, aggregating each column named in ``aggs``
    with its function; output columns keep their input names."""
    rolled = t.group_by(keys, use_threads=False).aggregate(list(aggs.items()))
    names = {f"{c}_{fn}": c for c, fn in aggs.items()}
    return rolled.rename_columns([names.get(c, c) for c in rolled.column_names])


@dataclass(frozen=True)
class LineageRow:
    partition_id: int
    row_count: int
    token_total: int


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", name)


class Registrar:
    """Parquet-dir-backed checkpoint table. One file per (run_id, sink) commit."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- write side (driver-only, metadata-sized) ---------------------------

    def commit(self, run_id: str, sink: str, lineage: list[LineageRow]) -> str:
        """Atomically record a sink commit. Idempotent: re-commit overwrites.
        Driver-written rows carry no per-source split (null ``source``)."""
        now = datetime.now(timezone.utc)
        table = pa.Table.from_pydict(
            {
                "run_id": [run_id] * len(lineage),
                "sink": [sink] * len(lineage),
                "partition_id": [r.partition_id for r in lineage],
                "row_count": [r.row_count for r in lineage],
                "token_total": [r.token_total for r in lineage],
                "committed_at": [now] * len(lineage),
            },
            schema=_ARROW_SCHEMA,
        )
        table = self._records(table)
        final = os.path.join(self.path, self._commit_name(run_id, sink))
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, final)  # registrar_other.go:9-15, reborn
        return final

    @staticmethod
    def records_of(staged: DataFrame, run_id: str) -> DataFrame:
        """The commit records of a run's routed rows: one aggregate at
        (sink, part_id, source) grain with the columns of
        ``_RECORD_SCHEMA``. Each sink's rows, written to one parquet file,
        are what :meth:`commit_file` adopts."""
        from pyspark.sql import functions as F

        agg = staged.groupBy("sink", "part_id", "source").agg(
            F.count(F.lit(1)).alias("row_count"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("token_total"),
            F.max("n_tok").cast("long").alias("max_tokens"),
        )
        return agg.select(
            F.lit(run_id).alias("run_id"),
            "sink",
            F.col("part_id").cast("int").alias("partition_id"),
            "row_count",
            "token_total",
            F.current_timestamp().alias("committed_at"),
            "source",
            "max_tokens",
        )

    def commit_file(self, run_id: str, sink: str, src_path: str) -> str:
        """Atomically adopt an executor-written record file (the columns of
        ``_RECORD_SCHEMA``) as this (run_id, sink)'s commit — the
        zero-driver-materialization path: the records never exist
        driver-side, only the rename does. Idempotent like commit():
        re-adoption overwrites."""
        final = os.path.join(self.path, self._commit_name(run_id, sink))
        os.replace(src_path, final)
        return final

    @staticmethod
    def _commit_name(run_id: str, sink: str) -> str:
        """Collision-free commit filename: readable prefix + hash of the RAW
        (run_id, sink) pair. Prefix-only naming collided for pairs differing
        in characters the sanitizer mangles (e.g. 'r__x'/'y' vs 'r'/'x__y')."""
        import hashlib

        h = hashlib.sha256(f"{run_id}\x00{sink}".encode()).hexdigest()[:16]
        return f"{_safe(run_id)[:32]}__{_safe(sink)[:32]}__{h}.parquet"

    # -- read side -----------------------------------------------------------

    INDEX_NAME = "_index.parquet"

    def _files(self) -> list[str]:
        return [
            os.path.join(self.path, f)
            for f in sorted(os.listdir(self.path))
            if f.endswith(".parquet")
            and not f.startswith(".tmp-")
            and f != self.INDEX_NAME
        ]

    def _index_path(self) -> str:
        return os.path.join(self.path, self.INDEX_NAME)

    def _index_table(self) -> "pa.Table | None":
        """The compaction index, if one exists: all compacted commits' rows
        plus their snapshot_id. Live commit files OVERRIDE index rows with
        the same snapshot_id (an idempotent re-commit after compaction
        writes the same deterministic filename, and the file is newer)."""
        p = self._index_path()
        if not os.path.exists(p):
            return None
        return pq.read_table(p)

    @staticmethod
    def _sid_of(path: str) -> str:
        return os.path.basename(path).rsplit("__", 1)[-1].removesuffix(".parquet")

    def _live_and_index(self) -> tuple[list[str], "pa.Table | None"]:
        """(live commit files, index rows NOT overridden by a live file)."""
        files = self._files()
        idx = self._index_table()
        if idx is not None and len(files):
            import pyarrow.compute as pc

            live = {self._sid_of(f) for f in files}
            idx = idx.filter(
                pc.invert(pc.is_in(idx.column("snapshot_id"), pa.array(sorted(live))))
            )
        return files, idx

    def _with_compaction_retry(self, fn):
        """Run a list-then-read operation, restarting it when a commit file
        vanishes mid-read: a concurrent compact() deleted it AFTER its rows
        moved into the index (deletion strictly follows the atomic index
        swap), so a fresh listing sees a consistent post-compaction state.
        Bounded retries; the last attempt propagates."""
        for _ in range(3):
            try:
                return fn()
            except FileNotFoundError:
                continue
        return fn()

    def committed_sinks(self, run_id: str) -> set[str]:
        """O-X3 resume input: which sinks of this run are already done."""
        return set(self._commits(run_id).column("sink").to_pylist())

    @staticmethod
    def _records(t: pa.Table, schema: pa.Schema = _RECORD_SCHEMA) -> pa.Table:
        """Normalize commit rows to ``schema`` — commit files come from two
        writers (driver pyarrow for empty sinks, executor Spark for data
        sinks) whose physical types differ slightly (e.g. timestamp
        unit/tz), and files from before records carried ``source`` and
        ``max_tokens`` lack those columns (read as null)."""
        for f_ in schema:
            if f_.name not in t.column_names:
                t = t.append_column(f_, pa.nulls(t.num_rows, f_.type))
        return t.select(schema.names).cast(schema)

    def _commits(self, run_id: str | None = None) -> pa.Table:
        """Every commit record, or only ``run_id``'s: the live commit files
        (for one run, only those named for it) plus the index rows no live
        file overrides."""
        import pyarrow.compute as pc

        def read() -> pa.Table:
            files, idx = self._live_and_index()
            if run_id is not None:
                prefix = f"{_safe(run_id)[:32]}__"
                files = [f for f in files if os.path.basename(f).startswith(prefix)]
            parts = [self._records(pq.read_table(f)) for f in files]
            if idx is not None:
                parts.append(self._records(idx))
            return pa.concat_tables(parts or [_RECORD_SCHEMA.empty_table()])

        t = self._with_compaction_retry(read)
        if run_id is not None:
            t = t.filter(pc.equal(t.column("run_id"), run_id))
        return t

    def lineage(self, run_id: str | None = None) -> pa.Table:
        """One row per (run_id, sink, partition_id) commit: the records
        rolled up over source."""
        rolled = _roll_up(
            self._commits(run_id),
            ["run_id", "sink", "partition_id", "committed_at"],
            {"row_count": "sum", "token_total": "sum"},
        )
        return self._records(rolled, _ARROW_SCHEMA)

    def source_totals(self, run_id: str) -> pa.Table:
        """Per-(sink, source) ``row_count``, ``token_total`` and
        ``max_tokens`` of ``run_id``'s commits, sorted by (sink, source):
        the records rolled up over partition. Empty-sink markers and
        records without a source contribute nothing."""
        import pyarrow.compute as pc

        t = self._commits(run_id)
        rolled = _roll_up(
            t.filter(pc.is_valid(t.column("source"))),
            ["sink", "source"],
            {"row_count": "sum", "token_total": "sum", "max_tokens": "max"},
        )
        return rolled.select(
            ["sink", "source", "row_count", "token_total", "max_tokens"]
        ).sort_by([("sink", "ascending"), ("source", "ascending")])

    def load(self, spark: SparkSession) -> DataFrame:
        """The checkpoint table as a DataFrame (for anti-join resume plans).

        Materialized driver-side from ``lineage()`` (registrar state is
        metadata-sized by design — one lineage row per run × sink ×
        partition, rolled up from the records): a
        ``spark.read.parquet(*files)`` here would race a concurrent
        ``compact()``'s file deletions at JVM scan time, past the Python
        retry's reach."""
        from ..schema import CHECKPOINT_SCHEMA

        t = self.lineage()
        if t.num_rows == 0:
            return spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return spark.createDataFrame(t.to_pylist(), CHECKPOINT_SCHEMA)

    # -- maintenance (Iceberg parity: manifest compaction) --------------------

    def compact(self, *, delete_covered: bool = True) -> int:
        """Fold every commit file into ONE atomically-swapped index parquet
        (`_index.parquet`) — Iceberg's manifest-list compaction for this
        layout. All commit records AND snapshot identity (snapshot_id from
        the commit filename, committed_at from the rows) are preserved, so
        resume, lineage audits, `snapshots()` ordering and time travel are
        unchanged — asserted equal in tests. With ``delete_covered`` the
        folded commit files are removed afterwards: thousands of
        metadata-sized files become one, and checkpoint load cost stops
        growing with commit count.

        Crash-safe: the index swap is a single `os.replace`; a crash
        before any deletion leaves covered files in place, which readers
        ignore via the live-overrides-index rule (same snapshot_id).
        Idempotent: a re-commit AFTER compaction writes the same
        deterministic filename and overrides its index rows.

        Returns the number of commit files folded."""
        files = self._files()
        prev = self._index_table()
        parts = []
        for f in files:
            t = self._records(pq.read_table(f))
            parts.append(
                t.append_column(
                    "snapshot_id", pa.array([self._sid_of(f)] * t.num_rows)
                )
            )
        if prev is not None:
            covered = {self._sid_of(f) for f in files}
            if covered:
                import pyarrow.compute as pc

                prev = prev.filter(
                    pc.invert(
                        pc.is_in(
                            prev.column("snapshot_id"), pa.array(sorted(covered))
                        )
                    )
                )
            parts.append(prev)
        if not parts:
            return 0
        idx_schema = _RECORD_SCHEMA.append(pa.field("snapshot_id", pa.string()))
        merged = pa.concat_tables([self._records(p, idx_schema) for p in parts])
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(merged, tmp)
        os.replace(tmp, self._index_path())
        if delete_covered:
            for f in files:
                try:
                    os.remove(f)
                except OSError:
                    pass
        return len(files)

    # -- maintenance (Iceberg parity: snapshot expiry + data GC) --------------

    def expire_snapshots(
        self,
        *,
        keep_last: int | None = None,
        older_than: "datetime | None" = None,
        keep_last_runs: int | None = None,
        out_dir: str | None = None,
    ) -> dict:
        """Iceberg ``expire_snapshots`` for this layout: at a poll-per-run
        tail cadence the snapshot log grows without bound — the same
        metadata-scaling argument that motivated :meth:`compact` — and a
        retention policy is how a log pipeline ages data out (the
        reference forwards to a receiver that owns retention; here the
        registrar IS the receiver's catalog).

        Selection (Iceberg ``expireOlderThan`` + ``retainLast``):
        candidates are snapshots with ``committed_at < older_than`` (all
        snapshots when ``older_than`` is None); the ``keep_last`` newest
        snapshots are ALWAYS retained (default 1 — the current snapshot
        is never expired). At least one criterion is required.

        Removal is data-first, metadata-second: a crash mid-way leaves
        the expired set still enumerable from metadata, so a re-run
        completes the job (idempotent — per-key deletes of already-gone
        files are no-ops). The index rewrite is the same single-file
        ``os.replace`` every other commit uses; data GC (with
        ``out_dir``) deletes per-key and removes only EMPTY dirs — no
        directory renames anywhere (object-store-safe, enforced under
        the no-dir-rename shim in tests). Time travel to surviving
        snapshots is unchanged; reads at an expired snapshot raise, as
        in Iceberg.

        ``keep_last_runs`` is the RUN-aware selector (the tail daemon's
        retention unit: one poll == one run of up to |sinks| snapshots):
        every snapshot of the K distinct run_ids with the newest commits
        is retained, regardless of how many sinks each run committed.

        Replay horizon caveat: expiring a (run_id, sink) also forgets
        its resume row, so replaying that exact run_id would re-publish.
        Retention must exceed the replay horizon — for the tail daemon
        the persisted poll counter in ``_tailstate.json`` already
        prevents poll run_id reuse, so this is only a concern for
        manually reused run ids."""
        if keep_last is None and older_than is None and keep_last_runs is None:
            raise ValueError(
                "expire_snapshots: pass keep_last, older_than and/or "
                "keep_last_runs"
            )
        if keep_last is not None and keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        if keep_last_runs is not None and keep_last_runs < 1:
            raise ValueError("expire_snapshots: keep_last_runs must be >= 1")
        snaps = SnapshotLog(self).snapshots()
        retain = 1 if keep_last is None else keep_last
        protected = {s.snapshot_id for s in snaps[-retain:]}
        if keep_last_runs is not None:
            # runs ordered by their NEWEST snapshot (commit order is the
            # snapshot order, so last-seen-wins over a single pass)
            latest_seq: dict[str, int] = {}
            for s in snaps:
                latest_seq[s.run_id] = s.sequence_number
            newest_runs = set(
                sorted(latest_seq, key=latest_seq.__getitem__)[-keep_last_runs:]
            )
            protected |= {
                s.snapshot_id for s in snaps if s.run_id in newest_runs
            }
        cut = _as_utc(older_than) if older_than is not None else None
        expired = [
            s
            for s in snaps
            if s.snapshot_id not in protected
            and (cut is None or s.committed_at < cut)
        ]
        report = {
            "expired": [
                {"snapshot_id": s.snapshot_id, "run_id": s.run_id, "sink": s.sink}
                for s in expired
            ],
            "kept": len(snaps) - len(expired),
            "data_files_removed": 0,
        }
        if not expired:
            return report
        if out_dir is not None:
            surviving_runs = {
                s.run_id for s in snaps if s.snapshot_id not in
                {e.snapshot_id for e in expired}
            }
            report["data_files_removed"] = self._gc_expired_data(
                out_dir, expired, surviving_runs
            )
        expired_ids = {s.snapshot_id for s in expired}
        idx = self._index_table()
        if idx is not None:
            import pyarrow.compute as pc

            kept_rows = idx.filter(
                pc.invert(
                    pc.is_in(
                        idx.column("snapshot_id"), pa.array(sorted(expired_ids))
                    )
                )
            )
            if kept_rows.num_rows != idx.num_rows:
                if kept_rows.num_rows:
                    tmp = os.path.join(
                        self.path, f".tmp-{uuid.uuid4().hex}.parquet"
                    )
                    pq.write_table(kept_rows, tmp)
                    os.replace(tmp, self._index_path())
                else:
                    os.remove(self._index_path())
        for f in self._files():
            if self._sid_of(f) in expired_ids:
                try:
                    os.remove(f)
                except OSError:
                    pass
        return report

    @staticmethod
    def _gc_expired_data(
        out_dir: str, snaps: "list[Snapshot]", surviving_runs: set[str]
    ) -> int:
        """Per-key deletion of expired snapshots' published data. A run
        with SURVIVING sibling snapshots gets sink-level GC only (its
        manifest and data files; the run dir stays). A FULLY expired run
        is walked bottom-up — every file deleted per key, every emptied
        dir rmdir'd — so Spark write residue (`_SUCCESS`, `.crc`,
        `_metrics/`) goes with it. No directory is ever renamed.
        Returns files removed."""
        from .manifest import gc_sink, read_manifest

        n = 0
        dead_runs = set()
        for s in snaps:
            run_dir = os.path.join(out_dir, f"run_id={s.run_id}")
            if s.run_id not in surviving_runs:
                dead_runs.add(run_dir)
                continue
            if read_manifest(run_dir, s.sink) is not None:
                n += gc_sink(run_dir, s.sink)
            else:
                d = os.path.join(run_dir, f"sink={s.sink}")
                if os.path.isdir(d):
                    for f in os.listdir(d):
                        p = os.path.join(d, f)
                        if os.path.isfile(p):
                            os.remove(p)
                            n += 1
            try:
                os.rmdir(os.path.join(run_dir, f"sink={s.sink}"))
            except OSError:
                pass
        for run_dir in sorted(dead_runs):
            for root, dirs, files in os.walk(run_dir, topdown=False):
                for f in files:
                    try:
                        os.remove(os.path.join(root, f))
                        n += 1
                    except OSError:
                        pass
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return n


# -- Iceberg-style snapshot surface ------------------------------------------
#
# Every commit file IS a snapshot increment (Iceberg: each commit swaps in a
# new metadata.json listing the manifests of all live data files; here: each
# atomic rename adds one immutable lineage file referencing one published
# sink dir). That makes snapshot listing and time-travel reads pure
# metadata operations — no data files are touched until the final scan, and
# the as-of filter selects WHOLE immutable sink dirs, mirroring Iceberg's
# manifest pruning. On a real deployment the same interface binds to
# Iceberg's snapshot log; this keeps the semantics testable without the jar.


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: str  # content-derived, stable across re-listing
    run_id: str
    sink: str
    committed_at: datetime
    sequence_number: int  # position in commit order (parent = seq - 1)


def _as_utc(dt: datetime) -> datetime:
    """Normalize to tz-aware UTC: driver commits (pyarrow, tz='UTC') and
    executor commits (Spark parquet) can deserialize with different tz
    awareness; a mixed log must still sort and compare."""
    return dt.replace(tzinfo=timezone.utc) if dt.tzinfo is None else dt


def _snapshot_of(path: str) -> "Snapshot | None":
    t = pq.read_table(path, columns=["run_id", "sink", "committed_at"])
    if t.num_rows == 0:
        return None
    return Snapshot(
        snapshot_id=os.path.basename(path).rsplit("__", 1)[-1].removesuffix(".parquet"),
        run_id=t.column("run_id")[0].as_py(),
        sink=t.column("sink")[0].as_py(),
        committed_at=_as_utc(t.column("committed_at")[0].as_py()),
        sequence_number=-1,  # assigned after global ordering
    )


class SnapshotLog:
    """Read-only snapshot view over a Registrar directory."""

    def __init__(self, registrar: Registrar):
        self.registrar = registrar

    def snapshots(self) -> list[Snapshot]:
        """All commits in commit order (committed_at, then snapshot_id for
        same-microsecond ties — deterministic across re-listing). Sources
        both live commit files AND the compaction index (registrar
        .compact()): snapshot identity survives compaction, so time travel
        to a compacted snapshot keeps working; a live file overrides its
        index entry (idempotent re-commit)."""
        snaps = []
        live_ids = set()
        for f in self.registrar._files():
            try:
                s = _snapshot_of(f)
            except FileNotFoundError:
                continue  # concurrent compact() folded it into the index
            if s is not None:
                snaps.append(s)
                live_ids.add(s.snapshot_id)
        idx = self.registrar._index_table()
        if idx is not None:
            seen: dict = {}
            for sid, rid, sink, at in zip(
                idx.column("snapshot_id").to_pylist(),
                idx.column("run_id").to_pylist(),
                idx.column("sink").to_pylist(),
                idx.column("committed_at").to_pylist(),
            ):
                if sid not in live_ids and sid not in seen:
                    seen[sid] = Snapshot(sid, rid, sink, _as_utc(at), -1)
            snaps.extend(seen.values())
        snaps.sort(key=lambda s: (s.committed_at, s.snapshot_id))
        return [
            Snapshot(
                s.snapshot_id, s.run_id, s.sink, s.committed_at, i
            )
            for i, s in enumerate(snaps)
        ]

    def current(self) -> "Snapshot | None":
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def read_as_of(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str,
        snapshot_id: str | None = None,
        as_of: datetime | None = None,
    ) -> DataFrame:
        """Time-travel read of a run's published data: only sinks whose
        commit is <= the requested snapshot (by id) or timestamp are
        visible — Iceberg `VERSION AS OF` / `TIMESTAMP AS OF`, at sink-
        commit granularity. Pure metadata filter + parquet scan of whole
        immutable sink dirs (basePath keeps the sink partition column).

        `snapshot_id` is the precise mechanism: it resolves to a point in
        the GLOBAL commit order (so an id from any run — e.g. one listed
        by --snapshots — defines the cut), then the run filter selects
        which run's data to read at that point. `as_of` filters on
        committed_at, which is the lineage WRITE instant: sinks published
        by one run share it (executors write all lineage in a single
        job), so timestamp travel treats a run's publish as one
        transaction — ties are all included, exactly like Iceberg reading
        at a timestamp between two commits sees the whole earlier
        commit."""
        all_snaps = self.snapshots()
        snaps = [s for s in all_snaps if s.run_id == run_id]
        if snapshot_id is not None:
            cut = next(
                (s.sequence_number for s in all_snaps if s.snapshot_id == snapshot_id),
                None,
            )
            if cut is None:
                raise ValueError(f"unknown snapshot_id {snapshot_id!r}")
            snaps = [s for s in snaps if s.sequence_number <= cut]
        if as_of is not None:
            cut_at = _as_utc(as_of)
            snaps = [s for s in snaps if s.committed_at <= cut_at]
        run_dir = os.path.join(out_dir, f"run_id={run_id}")
        # commit-protocol-aware resolution: manifest-committed sinks expose
        # exactly their manifest-listed files (rename-free protocol,
        # plans/manifest.py); others the whole immutable sink dir
        from ..pipeline import _published_sources

        dirs = _published_sources(run_dir, sorted({s.sink for s in snaps}))
        if not dirs:
            # Iceberg semantics: reading before the first visible snapshot
            # is an error, not an empty relation of guessed schema
            raise ValueError(
                f"no committed sink visible for run {run_id!r} at the "
                "requested snapshot/timestamp"
            )
        return spark.read.option("basePath", run_dir).parquet(*dirs)
