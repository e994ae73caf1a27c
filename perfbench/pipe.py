"""Pieces shared by the two workloads that call ``run_pipeline``: one timed
pipeline run with its registrar lookup, the noop-sink prefix runs, the
per-operation layer breakdown read from the folded event log, and the
independent routing their output checks compare against."""

from __future__ import annotations

import os
import time

import duckdb

from harness import CpuClock, job_wall, jobs_under, median, spark_totals

# The source dim (datagen.gen_source_dim) and the default route table
# (datagen.default_routes), restated for the output checks: ORACLE_SINK is
# the sink of a row with columns ``source`` and ``n_tok`` joined to ``dim``
# as ``d``. src_6 has no dim row, so it takes the join's null path.
DIM = {
    "src_hot": ("syslog", "prod"),
    "src_0": ("syslog", "prod"),
    "src_1": ("apache", "prod"),
    "src_2": ("apache", "staging"),
    "src_3": ("app", "prod"),
    "src_4": ("app", "dev"),
    "src_5": ("metrics", "prod"),
    "src_ghost": ("ghost", "none"),
}
ORACLE_SINK = """CASE
    WHEN d.type = 'syslog' AND n_tok > 16 THEN 'sink_syslog'
    WHEN d.type = 'apache' THEN 'sink_apache'
    WHEN d.env = 'dev' OR n_tok = 0 THEN 'sink_dev'
    ELSE 'sink_default' END"""


def oracle_db() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding the dim as table ``dim``."""
    con = duckdb.connect()
    con.execute("CREATE TABLE dim(source VARCHAR, type VARCHAR, env VARCHAR)")
    con.executemany("INSERT INTO dim VALUES (?, ?, ?)", [(k, *v) for k, v in DIM.items()])
    return con


def phase_of(target: str | None) -> str | None:
    """The ``run_pipeline`` phase a Spark job belongs to, from the path its
    SQL execution writes."""
    if target is None:
        return None
    leaf = target.rstrip("/").rsplit("/", 1)[-1]
    return {
        "_staging": "stage_write",
        "_lineage_staging": "lineage",
        "_metrics": "metrics",
    }.get(leaf, "other_write")


def timed_run(ctx, seqs, dim, out_dir: str, run_id: str, op: str) -> dict:
    """``run_pipeline`` once: its wall, CPU split, span and result."""
    from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline

    c0 = ctx.clock.read()
    t0 = time.monotonic()
    with ctx.tracer.span("run_pipeline", op=op) as span:
        res = run_pipeline(ctx.spark, seqs, dim, PipelineSpec(out_dir=out_dir, run_id=run_id))
    wall = time.monotonic() - t0
    return {"wall": wall, "cpu": CpuClock.delta(c0, ctx.clock.read()), "res": res, "span": span}


def lookup(ctx, out_dir: str, run_id: str, op: str) -> tuple[set[str], float]:
    """``Registrar.committed_sinks`` timed from outside, after a run."""
    from logstash_forwarder_spark.plans.registrar import Registrar

    t0 = time.monotonic()
    with ctx.tracer.span("registrar.committed_sinks", op=op):
        committed = Registrar(os.path.join(out_dir, "_checkpoint")).committed_sinks(run_id)
    return committed, time.monotonic() - t0


def commits(out_dir: str) -> float:
    """(run, sink) commits the registrar under ``out_dir`` holds."""
    from logstash_forwarder_spark.plans.registrar import Registrar

    t = Registrar(os.path.join(out_dir, "_checkpoint")).lineage()
    return float(len(set(zip(t["run_id"].to_pylist(), t["sink"].to_pylist()))))


def prefix_runs(ctx, seqs, dim, op: str) -> dict[str, float]:
    """Noop-sink prefixes of the pipeline plan: scan, scan → parse_stage,
    and the full ``build_plan`` (parse → enrich → route). Each layer's self
    time is its prefix minus the one before it."""
    from logstash_forwarder_spark.operators.parse import parse_stage
    from logstash_forwarder_spark.pipeline import PipelineSpec, build_plan

    plans = {
        "scan": lambda: seqs,
        "parse": lambda: parse_stage(seqs),
        "enrich_route": lambda: build_plan(seqs, dim, PipelineSpec(out_dir="", run_id="prefix")),
    }
    walls = {}
    for name, plan in plans.items():
        t0 = time.monotonic()
        with ctx.tracer.span(f"prefix.{name}", op=op):
            plan().write.format("noop").mode("overwrite").save()
        walls[name] = time.monotonic() - t0
    return {
        "scan.s": walls["scan"],
        "parse.self_s": walls["parse"] - walls["scan"],
        "enrich_route.self_s": walls["enrich_route"] - walls["parse"],
    }


def run_layers(jobs: list[dict], tracer, runs: list[dict]) -> dict[str, float]:
    """Per-operation layer metrics, as medians over ``runs`` (each with its
    ``span`` and CPU split)."""
    per: list[dict[str, float]] = []
    for r in runs:
        js = jobs_under(jobs, tracer, r["span"])
        by = {p: [j for j in js if j["phase"] == p] for p in ("stage_write", "lineage", "metrics")}
        writes = [j for j in js if j["phase"] is not None]
        per.append(
            {
                **spark_totals(js),
                "python.cpu_s": r["cpu"]["py"],
                "jvm.cpu_s": r["cpu"]["jvm"],
                "driver.cpu_s": r["cpu"]["driver"],
                "parquet_write.s": job_wall(writes),
                "parquet_write.out_bytes": float(sum(j["out_bytes"] for j in writes)),
                "stage_write.s": job_wall(by["stage_write"]),
                "stage_write.out_bytes": float(sum(j["out_bytes"] for j in by["stage_write"])),
                "lineage.s": job_wall(by["lineage"]),
                "metrics.s": job_wall(by["metrics"]),
                "metrics.in_bytes": float(sum(j["in_bytes"] for j in by["metrics"])),
                "metrics.shuffle_bytes": float(sum(j["shuffle_bytes"] for j in by["metrics"])),
                "salted_agg.s": job_wall(by["metrics"]),
                "registrar.lookup_s": r["lookup_s"],
            }
        )
    return {k: median([p[k] for p in per]) for k in per[0]}
