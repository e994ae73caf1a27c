"""Kill/resume exactly-once test (SURVEY §3.4, FIXTURES.md §6).

The reference is at-least-once — a crash between ack and registry write
duplicates events on resume (/root/reference/publisher1.go:126 →
registrar.go:31-34). The north_rule demands exactly-once: kill after the
first sink commit, resume with the same run_id, assert no duplicates and no
loss per sink.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import (
    InjectedFailure,
    PipelineSpec,
    run_pipeline,
)
from logstash_forwarder_spark.plans.registrar import LineageRow, Registrar

from .oracle import oracle_pipeline, oracle_sink_source_counts, read_metrics

N_ROWS = 10_000


def _read_all_sinks(spark, out_dir, run_id):
    run_dir = os.path.join(out_dir, f"run_id={run_id}")
    sinks = [d for d in os.listdir(run_dir) if d.startswith("sink=")]
    return spark.read.option("basePath", run_dir).parquet(
        *(os.path.join(run_dir, d) for d in sinks)
    )


def test_kill_after_first_sink_then_resume(spark, tmp_out):
    seqs = gen_sequences(spark, N_ROWS, num_partitions=8).cache()
    dim = gen_source_dim(spark)
    spec = PipelineSpec(out_dir=tmp_out, run_id="killrun", fail_after_sinks=1)

    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, spec)

    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    done_after_crash = reg.committed_sinks("killrun")
    assert len(done_after_crash) >= 1  # at least the first commit landed

    # resume with the same run_id, no fault
    spec2 = PipelineSpec(out_dir=tmp_out, run_id="killrun", routes=spec.routes)
    res = run_pipeline(spark, seqs, dim, spec2)
    assert set(res.sinks_skipped) == done_after_crash

    got = _read_all_sinks(spark, tmp_out, "killrun").toPandas()
    # exactly-once: no duplicates, no loss
    assert len(got) == N_ROWS
    assert got.doc_id.is_unique

    dim_map = {r.source: dict(r.fields) for r in dim.collect()}
    want = oracle_pipeline(seqs.toPandas(), dim_map)
    pd.testing.assert_frame_equal(
        oracle_sink_source_counts(got), oracle_sink_source_counts(want), check_dtype=False
    )
    # _metrics covers every sink, the crashed attempt's commits included
    pd.testing.assert_frame_equal(
        read_metrics(res.metrics_path), oracle_sink_source_counts(want), check_dtype=False
    )

    # lineage covers every published sink with correct totals
    lin = reg.lineage("killrun").to_pandas()
    per_sink = lin.groupby("sink").row_count.sum()
    got_per_sink = got.groupby("sink").doc_id.count()
    for s, n in got_per_sink.items():
        assert per_sink[s] == n
    seqs.unpersist()


def test_published_but_uncheckpointed_sink_is_redone(spark, tmp_out):
    """Crash in the gap between atomic publish and checkpoint write (the
    reference's duplicate window, SURVEY §3.4): the resume must treat the
    unreferenced published dir as garbage and redo it exactly-once."""
    import shutil

    seqs = gen_sequences(spark, 2_000, num_partitions=4).cache()
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="gap"))

    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    # simulate the crash gap: data published, checkpoint row missing
    victim = sorted(reg.committed_sinks("gap"))[0]
    os.remove(
        os.path.join(tmp_out, "_checkpoint", Registrar._commit_name("gap", victim))
    )
    assert victim not in reg.committed_sinks("gap")

    res = run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="gap"))
    assert victim in res.sinks_committed

    got = _read_all_sinks(spark, tmp_out, "gap").toPandas()
    assert len(got) == 2_000 and got.doc_id.is_unique
    seqs.unpersist()


def test_partial_staging_dir_from_crashed_attempt(spark, tmp_out):
    """A crash DURING the staging write leaves a partial _staging dir; the
    next attempt must discard it and produce exactly-once output."""
    seqs = gen_sequences(spark, 1_000, num_partitions=2)
    dim = gen_source_dim(spark)
    run_dir = os.path.join(tmp_out, "run_id=stale")
    staging = os.path.join(run_dir, "_staging")
    os.makedirs(os.path.join(staging, "sink=sink_dev"), exist_ok=True)
    with open(os.path.join(staging, "sink=sink_dev", "junk.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")

    res = run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="stale"))
    assert res.rows_staged == 1_000
    got = _read_all_sinks(spark, tmp_out, "stale").toPandas()
    assert len(got) == 1_000 and got.doc_id.is_unique
    assert not os.path.exists(staging)


def test_registrar_atomic_and_idempotent(tmp_path, spark):
    reg = Registrar(str(tmp_path / "ck"))
    reg.commit("r1", "sink_a", [LineageRow(0, 10, 100), LineageRow(1, 5, 50)])
    reg.commit("r1", "sink_a", [LineageRow(0, 10, 100), LineageRow(1, 5, 50)])  # re-commit
    reg.commit("r1", "sink_b", [LineageRow(0, 1, 2)])
    reg.commit("r2", "sink_a", [LineageRow(0, 7, 7)])

    assert reg.committed_sinks("r1") == {"sink_a", "sink_b"}
    assert reg.committed_sinks("r2") == {"sink_a"}
    assert reg.committed_sinks("r3") == set()

    lin = reg.lineage("r1").to_pandas()
    assert lin[lin.sink == "sink_a"].row_count.sum() == 15  # no dup from re-commit

    df = reg.load(spark)
    assert df.count() == 4
    assert set(df.columns) == {
        "run_id",
        "sink",
        "partition_id",
        "row_count",
        "token_total",
        "committed_at",
    }
