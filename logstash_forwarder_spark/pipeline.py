"""The orchestrator: parse → enrich → route → fan-out commit → aggregate.

One logical run = one envelope/ack cycle of the reference
(/root/reference/publisher1.go:44-127), restructured for scale:

* **Single input pass.** The routed stream is written ONCE with
  ``partitionBy("sink")`` into a staging dir — K sinks do not mean K scans
  of a 100 TB input.
* **One aggregate, no read-back.** One executor-side groupBy over the
  staged data, at (sink, part_id, source) grain, writes each sink's commit
  record. Lineage is its roll-up over source; ``_metrics`` is a driver-side
  roll-up over part_id of this run's committed records, so published data
  is never read again and a resumed run reuses earlier commits' records.
  ``part_id`` (the input partition) spreads a hot source across groups the
  way a salt would.
* **Checkpoint anti-filter.** On resume, sinks already committed for this
  ``run_id`` are excluded *before* the staging write (O-X3's left-anti join,
  degenerated to an ``isin`` filter because the commit key is the sink) —
  re-running a half-failed run re-does only uncommitted work.
* **Atomic publish, checkpoint-after-data.** Each sink dir is renamed into
  place (atomic), then its lineage rows are committed to the registrar. A
  crash between the two leaves a published-but-unreferenced dir, which
  resume deletes and redoes → exactly-once routed rows (strictly stronger
  than the reference's at-least-once, SURVEY §3.4).
* **Two commit protocols.** ``commit_mode="rename"`` (default) publishes by
  atomic directory rename — correct on POSIX, impossible on object stores.
  ``commit_mode="manifest"`` writes data files once in their final
  partition dirs and commits each sink by atomically swapping ONE small
  manifest file readers resolve through (plans/manifest.py) — the
  Iceberg-style protocol for S3/GCS, proven rename-free by a shim that
  forbids directory renames (tests/test_manifest_commit.py). ``_metrics``
  is published by file replace in both modes.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import default_routes
from .operators.enrich import enrich_stage
from .operators.parse import parse_stage
from .operators.route import route_stage, sink_names
from .plans.registrar import LineageRow, Registrar


class InjectedFailure(RuntimeError):
    """Raised by the test-only fault injector to simulate a mid-run crash."""


@dataclass
class PipelineSpec:
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    routes: list[tuple[int, str, str]] = field(default_factory=default_routes)
    # "rename": atomic directory rename per sink (POSIX-only, the default
    # here — no object store in this sandbox). "manifest": data files are
    # written once in place and a small per-sink manifest file is the commit
    # — no directory renames anywhere, the object-store-safe protocol
    # (plans/manifest.py).
    commit_mode: str = "rename"
    # write-time sorted layout (plans/layout.py at the ship surface):
    # range-partition each sink's rows by this column and sort within
    # partitions before staging, so parquet row-group/file min-max
    # envelopes prune selective range scans downstream. Costs ONE range
    # exchange at publish (the documented layout tradeoff); lineage is
    # unaffected (part_id rides the rows).
    sort_col: str | None = None
    # with sort_col: explicit range-partition count. None lets the
    # session's shuffle width (and AQE coalescing) pick — fine at scale,
    # but AQE coalescing small runs into few large files WEAKENS zone-map
    # pruning; set explicitly when file granularity is the point.
    sort_partitions: int | None = None
    # test-only fault injection: raise after N successful sink commits
    fail_after_sinks: int | None = None


@dataclass
class RunResult:
    run_id: str
    sinks_committed: list[str]
    sinks_skipped: list[str]
    rows_staged: int
    metrics_path: str
    elapsed_sec: float


def build_plan(
    sequences: DataFrame, source_dim: DataFrame, spec: PipelineSpec
) -> DataFrame:
    """The logical plan: parse → enrich → route. Pure, lazily evaluated."""
    parsed = parse_stage(sequences)
    enriched = enrich_stage(parsed, source_dim, run_id=spec.run_id)
    return route_stage(enriched, spec.routes)


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    source_dim: DataFrame,
    spec: PipelineSpec,
) -> RunResult:
    t0 = time.monotonic()
    reg = Registrar(os.path.join(spec.out_dir, "_checkpoint"))
    all_sinks = sink_names(spec.routes)
    done = reg.committed_sinks(spec.run_id)
    todo = [s for s in all_sinks if s not in done]

    run_dir = os.path.join(spec.out_dir, f"run_id={spec.run_id}")
    staging = os.path.join(run_dir, "_staging")
    os.makedirs(run_dir, exist_ok=True)

    committed: list[str] = []
    rows_staged = 0
    if todo:
        routed = build_plan(sequences, source_dim, spec)
        # exclude already-committed sinks before the (expensive) staging pass
        if done:
            routed = routed.filter(~F.col("sink").isin(sorted(done)))
        if spec.sort_col:
            range_args = ("sink", spec.sort_col)
            if spec.sort_partitions:
                routed = routed.repartitionByRange(
                    spec.sort_partitions, *range_args
                )
            else:
                routed = routed.repartitionByRange(*range_args)
            routed = routed.sortWithinPartitions(*range_args)

        if spec.commit_mode == "manifest":
            # -- rename-free protocol (plans/manifest.py): GC unreferenced
            # leftovers of crashed attempts, write data files ONCE in their
            # final partition dirs, then commit each sink by atomically
            # publishing one small manifest file. No directory ever moves.
            from .plans.manifest import gc_sink, list_data_files, publish_manifest

            for sink in todo:
                gc_sink(run_dir, sink)
            shutil.rmtree(os.path.join(run_dir, "_temporary"), ignore_errors=True)
            routed.write.mode("append").partitionBy("sink").parquet(run_dir)
            staged_dirs = [
                os.path.join(run_dir, f"sink={s}")
                for s in todo
                if list_data_files(run_dir, s)
            ]
            staged = (
                spark.read.option("basePath", run_dir).parquet(*staged_dirs)
                if staged_dirs
                else None
            )
        else:
            # a previous crashed attempt may have left a partial staging dir
            shutil.rmtree(staging, ignore_errors=True)
            # fields is map<string,string>: fine for parquet; keep full row
            # for routed-row equality checks downstream.
            routed.write.partitionBy("sink").parquet(staging)
            has_staged = any(
                d.startswith("sink=") for d in os.listdir(staging)
            )  # zero routed rows → only _SUCCESS; parquet read would fail
            staged = spark.read.parquet(staging) if has_staged else None

        lineage_staging = os.path.join(run_dir, "_lineage_staging")
        shutil.rmtree(lineage_staging, ignore_errors=True)
        lineage_files: dict[str, str] = {}
        if staged is not None:
            # the commit records, WRITTEN BY EXECUTORS — the driver never
            # materializes a row per input partition (a toPandas() here
            # scales with partition count; VERDICT r1 #6). repartition(1)
            # funnels the metadata-sized relation through one executor so
            # partitionBy yields exactly one file per sink.
            (
                Registrar.records_of(staged, spec.run_id)
                .withColumn("sink_part", F.col("sink"))
                .repartition(1)
                .write.partitionBy("sink_part")
                .parquet(lineage_staging)
            )
            for d in os.listdir(lineage_staging):
                if not d.startswith("sink_part="):
                    continue
                sink = d.split("=", 1)[1]
                parts = [
                    f
                    for f in os.listdir(os.path.join(lineage_staging, d))
                    if f.endswith(".parquet")
                ]
                lineage_files[sink] = os.path.join(lineage_staging, d, parts[0])
            # rows_staged from the metadata-sized record files, summed
            # DRIVER-SIDE with pyarrow (the per-sink file list is already
            # in hand) — not a second staged-data scan, and since r8 not
            # even a Spark job (the read-back + agg cost a whole job for
            # a handful of rows)
            rows_staged = sum(
                pq_read_column_sum(f, "row_count")
                for f in lineage_files.values()
            )

        n_committed = 0
        for sink in todo:
            if spec.commit_mode == "manifest":
                files = list_data_files(run_dir, sink)
                if not files:
                    publish_manifest(run_dir, sink, [], 0)
                    reg.commit(spec.run_id, sink, [LineageRow(-1, 0, 0)])
                    committed.append(sink)
                    continue
                n_rows = int(
                    pq_read_column_sum(lineage_files[sink], "row_count")
                )
                # publish = the ack (one atomic FILE swap names the data
                # files); checkpoint second — a crash between the two leaves
                # a manifest the registrar never adopted, which resume's
                # gc_sink deletes and redoes (same exactly-once window as
                # the rename protocol)
                publish_manifest(run_dir, sink, files, n_rows)
                reg.commit_file(spec.run_id, sink, lineage_files[sink])
            else:
                src = os.path.join(staging, f"sink={sink}")
                dst = os.path.join(run_dir, f"sink={sink}")
                # crash between publish and checkpoint leaves dst
                # unreferenced: delete and redo (idempotent re-commit)
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                if not os.path.isdir(src):
                    # no rows routed to this sink: commit empty lineage
                    reg.commit(spec.run_id, sink, [LineageRow(-1, 0, 0)])
                    committed.append(sink)
                    continue
                os.replace(src, dst)  # atomic publish = the ack (O-R5)
                # checkpoint = adopting the executor-written record file
                reg.commit_file(spec.run_id, sink, lineage_files[sink])
            committed.append(sink)
            n_committed += 1
            if (
                spec.fail_after_sinks is not None
                and n_committed >= spec.fail_after_sinks
            ):
                raise InjectedFailure(
                    f"injected crash after {n_committed} sink commits"
                )
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(lineage_staging, ignore_errors=True)
    else:
        # fully-committed run killed before its cleanup: the resume has no
        # sink work, but the crashed attempt's staging leftovers are garbage
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "_lineage_staging"), ignore_errors=True)

    # north-rule metrics: per-(sink, source) counts + token totals, rolled
    # up from every committed record of this run (earlier attempts' too)
    metrics_path = os.path.join(run_dir, "_metrics")
    totals = reg.source_totals(spec.run_id)
    if totals.num_rows:
        _publish_metrics(totals, metrics_path)

    return RunResult(
        run_id=spec.run_id,
        sinks_committed=committed,
        sinks_skipped=sorted(done),
        rows_staged=rows_staged,
        metrics_path=metrics_path,
        elapsed_sec=time.monotonic() - t0,
    )


def pq_read_column_sum(path: str, column: str) -> int:
    """Sum one int64 column of a single (metadata-sized) parquet file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[column])
    return int(pc.sum(t.column(column)).as_py() or 0)


def _publish_metrics(totals, metrics_path: str) -> None:
    """Write ``_metrics`` as one parquet file moved in by file replace —
    no directory rename, so manifest mode stays rename-free."""
    import pyarrow.parquet as pq

    shutil.rmtree(metrics_path, ignore_errors=True)
    os.makedirs(metrics_path)
    tmp = os.path.join(metrics_path, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(totals, tmp)
    os.replace(tmp, os.path.join(metrics_path, "part-00000.parquet"))


def _published_sources(run_dir: str, sinks) -> list[str]:
    """Reader-side source resolution, commit-protocol-aware: a sink with a
    manifest contributes exactly its manifest-listed files (anything else in
    the directory is an uncommitted orphan and MUST be invisible); a sink
    without one falls back to the rename-protocol directory."""
    from .plans.manifest import resolve_sink_files

    out: list[str] = []
    for s in sinks:
        files = resolve_sink_files(run_dir, s)
        if files is None:
            d = os.path.join(run_dir, f"sink={s}")
            if os.path.isdir(d):
                out.append(d)
        else:
            out.extend(files)
    return out


def read_sink(spark: SparkSession, out_dir: str, run_id: str, sink: str) -> DataFrame:
    run_dir = os.path.join(out_dir, f"run_id={run_id}")
    sources = _published_sources(run_dir, [sink])
    if not sources:
        raise ValueError(f"sink {sink!r} has no published data in {run_dir}")
    return spark.read.option("basePath", run_dir).parquet(*sources)


def read_table(
    spark: SparkSession,
    out_dir: str,
    sinks: list[str] | None = None,
    *,
    dedup_on: str | None = None,
) -> DataFrame:
    """The whole output table — every run, commit-protocol-aware.

    A bare ``run_id=*/sink=*`` glob is WRONG for manifest-mode output:
    data files are written in place before the manifest commit, so the
    glob can see a crashed attempt's uncommitted orphans (and, after a
    compaction crash, superseded originals). This reader resolves each
    run's sinks the way read_sink does — manifest-listed files when a
    manifest exists, the directory otherwise (rename mode, where
    publish IS the atomic move) — and keeps both hive partition columns
    (``run_id``, ``sink``) via basePath. This is the consumer surface
    for the tail daemon's many per-poll runs.

    ``dedup_on``: the consumer half of the tail loop's documented
    at-least-once recovery window (a crash between commit and state
    write, PLUS growth before restart, re-commits the old lines bundled
    with the growth under a fresh run_id). Passing the replay-stable
    identity column (``doc_id`` — file:line_no for harvested text)
    collapses such replays to ONE row each, keeping the row from the
    minimum run_id (deterministic; which replica survives is
    irrelevant, the payloads are identical by construction). Same
    single-shuffle ``min_by(struct(*), run_id)`` shape as dedup_exact —
    no join back."""
    run_dirs = sorted(
        d
        for d in os.listdir(out_dir)
        if d.startswith("run_id=")
        and os.path.isdir(os.path.join(out_dir, d))
    )
    from .plans.manifest import MANIFEST_DIR, resolve_sink_files

    sources: list[str] = []
    for rd in run_dirs:
        run_dir = os.path.join(out_dir, rd)
        run_sinks = sinks
        if run_sinks is None:
            run_sinks = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(run_dir)
                if d.startswith("sink=")
            )
        manifest_mode = os.path.isdir(os.path.join(run_dir, MANIFEST_DIR))
        for s in run_sinks:
            files = resolve_sink_files(run_dir, s)
            if files is not None:
                sources.extend(files)
            elif manifest_mode:
                # a manifest-mode run whose sink has NO manifest: the
                # commit never happened — its directory holds only a
                # crashed attempt's orphans. Skip, never fall back.
                continue
            else:
                d = os.path.join(run_dir, f"sink={s}")
                if os.path.isdir(d):
                    sources.append(d)
    if not sources:
        raise ValueError(f"no published data under {out_dir}")
    df = spark.read.option("basePath", out_dir).parquet(*sources)
    if dedup_on is not None:
        cols = df.columns
        df = (
            df.groupBy(dedup_on)
            .agg(F.min_by(F.struct(*cols), F.col("run_id")).alias("_keep"))
            .select("_keep.*")
        )
    return df
