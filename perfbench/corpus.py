"""corpus_queries: serial passes over registry queries, each written to a
noop sink, on the fixed sf0.01 tables shipped in ``perfbench/data``. The
data is fixed, so the seed shuffles the query order. A pass is one
operation; each query's wall is one latency sample.

The warm-up runs the pass's queries concurrently and collects every result
for the oracle check, which runs after the window."""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from harness import (
    STEAL_GATE,
    CpuClock,
    StealMeter,
    fold_event_log,
    geomean,
    job_wall,
    jobs_under,
    median,
    quiet,
    spark_totals,
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# A warm pass over all 45 bench queries (bench.BENCH_QUERIES +
# bench_extra.EXTRA_QUERIES) takes ~26 s of JVM-bound work on four cores;
# with its warm-up it does not fit the benchmark's run budget. These 14
# reach ten of the operator modules the 45 use (dedup, similarity, stats,
# curate, heavyhitters, sketch, eventops, incremental, lm, bpe; text, pack,
# grok and mutate are left out), the salted_agg the pipeline's _metrics
# shares (sink_source_counts), join and shuffle SQL shapes, and the queries
# named as next optimisation targets (incremental_dedup, perplexity_tiers,
# curation_ledger).
QUERIES = [
    "sink_source_counts",
    "enrich_agg",
    "regional_revenue",
    "minhash_lsh",
    "winnow_near_dup",
    "similarity_pq",
    "token_quantiles",
    "curation_ledger",
    "heavy_hitters",
    "bloom_decontaminate",
    "aggregate_correlate",
    "incremental_dedup",
    "perplexity_tiers",
    "bpe_encode",
]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _warm(ctx, state, collect: bool) -> list[float]:
    """One concurrent pass; with ``collect`` it keeps every result for the
    check."""
    reg, sf = state["reg"], state["sf"]

    def run(name):
        df = reg[name][0](ctx.spark, sf)
        if collect:
            state["results"][name] = (df.columns, df.schema, df.collect())
        else:
            df.write.format("noop").mode("overwrite").save()

    t0 = time.monotonic()
    with ThreadPoolExecutor(ctx.cores) as ex:
        for f in [ex.submit(run, n) for n in QUERIES]:
            ctx.attempt("warm-up query", f.result)
    return [time.monotonic() - t0]


def setup(ctx) -> dict:
    """Copies the tables into the run's dir (query fixtures are keyed by
    input path, so every run builds its own) and warms up."""
    from logstash_forwarder_spark.queries import registry

    sf = os.path.join(ctx.run_dir, "sf0.01")
    shutil.copytree(DATA, sf)
    state = {"sf": sf, "reg": registry(), "results": {}}
    state["warmup_s"] = _warm(ctx, state, collect=True)
    return state


def rewarm(ctx, state) -> None:
    _warm(ctx, state, collect=False)


def _pass(ctx, state, rng: random.Random, op: str) -> dict:
    names = list(QUERIES)
    rng.shuffle(names)
    walls = {}

    def one(name):
        state["reg"][name][0](ctx.spark, state["sf"]).write.format("noop").mode("overwrite").save()

    c0 = ctx.clock.read()
    steal = StealMeter()
    with ctx.tracer.span("pass", op=op) as span:
        for name in names:
            t0 = time.monotonic()
            with ctx.tracer.span(f"query.{name}", op=op):
                ctx.attempt(f"query {name}", one, name)
            walls[name] = time.monotonic() - t0
    cpu = CpuClock.delta(c0, ctx.clock.read())
    return {
        "walls": walls,
        "wall": sum(walls.values()),
        "cpu": cpu,
        "span": span,
        "steal": steal.share(),
    }


def measure(ctx, state) -> dict:
    rng = random.Random(ctx.seed)
    done = []
    t0 = time.monotonic()
    while not done or time.monotonic() - t0 < ctx.seconds:
        done.append(_pass(ctx, state, rng, f"pass{len(done)}"))
    # A pass over the steal gate is counted, not replaced: a later pass in
    # the same JVM runs warmer (about 30% less CPU), so it is not the same
    # work.
    passes = quiet(done)
    return {
        "runs": passes,
        "n_ops": len(passes),
        "noise": {"gated_passes": sum(p["steal"] > STEAL_GATE for p in done)},
        "op_s": median([p["wall"] for p in passes]),
        "cpu_s_per_op": median([p["cpu"]["cpu"] for p in passes]),
        "latencies": [w for p in passes for w in p["walls"].values()],
    }


def layers(ctx, state, traced) -> dict:
    jobs = fold_event_log(os.path.join(ctx.run_dir, "eventlog"), ctx.tracer, lambda t: t and "write")
    state["jobs"] = jobs
    per = []
    for p in traced["runs"]:
        js = jobs_under(jobs, ctx.tracer, p["span"])
        writes = [j for j in js if j["phase"]]
        per.append(
            {
                **spark_totals(js),
                "python.cpu_s": p["cpu"]["py"],
                "jvm.cpu_s": p["cpu"]["jvm"],
                "driver.cpu_s": p["cpu"]["driver"],
                "parquet_write.s": job_wall(writes),
                "parquet_write.out_bytes": float(sum(j["out_bytes"] for j in writes)),
                "salted_agg.s": p["walls"]["sink_source_counts"],
                **{f"query.{n}.s": w for n, w in p["walls"].items()},
            }
        )
    return {k: median([p[k] for p in per]) for k in per[0]}


def check(ctx, state) -> None:
    """Each warm-up result against its ``oracle_sql()`` on DuckDB, under
    ``tools/check_oracle.py``'s comparison rules."""
    import duckdb

    from tools.check_oracle import frame_key, risky_types

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{state['sf']}/{t}.parquet')"
        )
    missing = set(QUERIES) - set(state["results"])
    ctx.attempt("every query collected", lambda: not missing)
    for name, (cols, schema, rows) in sorted(state["results"].items()):
        sql = state["reg"][name][1]
        if sql is None:  # rows-only by design (minhash_lsh, simhash)
            ctx.attempt(f"oracle {name}", lambda rows=rows: len(rows) > 0)
            continue

        def same(cols=cols, schema=schema, rows=rows, sql=sql):
            if risky_types(schema):
                return False
            rel = con.sql(sql)
            dcols = [c.lower() for c in rel.columns]
            scols = [c.lower() for c in cols]
            return sorted(scols) == sorted(dcols) and frame_key(scols, rows) == frame_key(
                dcols, rel.fetchall()
            )

        ctx.attempt(f"oracle {name}", same)


def named(ctx, state, res) -> dict:
    walls = [p["walls"] for p in res["runs"]]
    per_query = {n: median([w[n] for w in walls]) for n in QUERIES}
    return {
        "pass_s": res["op_s"],
        "query_geomean_s": geomean(list(per_query.values())),
        "cpu_s_per_pass": res["cpu_s_per_op"],
        "error_rate": ctx.failed / ctx.attempted,
        "warmup_s": state["warmup_s"],
        "query_s": per_query,
    }
