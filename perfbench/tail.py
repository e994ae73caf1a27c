"""tail_follow: the forwarder's own job. A seeded generator thread appends
short timestamped log lines to eight files on a fixed schedule, whether or
not the system keeps up (open loop). The main thread polls back to back,
as ``run.py --tail`` does per poll: ``poll_tail_once`` →
``lines_to_sequences`` → ``run_pipeline`` → ``release_poll_checkpoint``,
every poll committing into one growing output dir. A line's freshness runs
from its due time at the generator to the end of the poll whose committed
offsets cover it."""

from __future__ import annotations

import bisect
import os
import random
import threading
import time

import pyarrow as pa

from harness import STEAL_GATE, CpuClock, StealMeter, fold_event_log, median, percentile
from pipe import (
    ORACLE_SINK,
    commits,
    lookup,
    oracle_db,
    phase_of,
    prefix_runs,
    run_layers,
    timed_run,
)

RATE = 2000  # offered lines per second, far below what polls sustain
TICK = 0.02
# Polls before the window; as for bulk_pipeline, two take the steep part of
# the warm-up.
WARM_POLLS = 2
# The window runs at least this many polls. A window that loses more than
# the steal gate is discarded and followed by a new one, at most
# MAX_WINDOWS in all.
MIN_POLLS = 3
MAX_WINDOWS = 2
SOURCES = ["src_hot"] + [f"src_{i}" for i in range(7)]
WEIGHTS = [0.6] + [0.4 / 7] * 7
LEVELS = ["INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG"]


class Generator:
    """Appends lines due at ``start + k / RATE``. Each line's end offset and
    due time are recorded before the bytes are written, so any committed
    offset maps to the exact lines it covers."""

    def __init__(self, directory: str, seed: int) -> None:
        self.rng = random.Random(seed)
        self.paths = [os.path.join(directory, f"{s}.log") for s in SOURCES]
        self.fds = [os.open(p, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644) for p in self.paths]
        self.ends: list[list[int]] = [[] for _ in SOURCES]
        self.dues: list[list[float]] = [[] for _ in SOURCES]
        self.n_tok: list[list[int]] = [[] for _ in SOURCES]
        self.late: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.tid: int | None = None

    def _line(self, due: float) -> bytes:
        r = self.rng
        words = [
            f"{due:.6f}",
            r.choice(LEVELS),
            f"req={r.randrange(10**6)}",
            f"user=u{r.randrange(1000)}",
            f"path=/api/v{r.randrange(3)}/items/{r.randrange(500)}",
            f"ms={r.randrange(2000)}",
        ]
        if r.random() < 0.05:  # a stack-trace-like long line
            words += [f"at frame{i}" for i in range(9)]
        return (" ".join(words) + "\n").encode()

    def _run(self, start: float, k0: int) -> None:
        self.tid = threading.get_native_id()
        k = k0
        while not self._stop.is_set():
            now = time.monotonic()
            due_n = k0 + int((now - start) * RATE)
            chunks: list[list[bytes]] = [[] for _ in SOURCES]
            for i in range(k, due_n):
                due = start + (i - k0) / RATE
                f = self.rng.choices(range(len(SOURCES)), WEIGHTS)[0]
                line = self._line(due)
                end = (self.ends[f][-1] if self.ends[f] else 0) + len(line)
                self.ends[f].append(end)
                self.dues[f].append(due)
                self.n_tok[f].append(len(line.split()))
                chunks[f].append(line)
            for f, c in enumerate(chunks):
                if c:
                    os.write(self.fds[f], b"".join(c))
            if due_n > k:
                self.late.append(time.monotonic() - (start + (k - k0) / RATE))
            k = due_n
            time.sleep(TICK)

    def start(self) -> None:
        self._stop.clear()
        self.tid = None
        k0 = sum(len(e) for e in self.ends)
        self._thread = threading.Thread(target=self._run, args=(time.monotonic(), k0), daemon=True)
        self._thread.start()
        while self.tid is None:
            time.sleep(0.001)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return time.monotonic()

    def written(self) -> int:
        return sum(len(e) for e in self.ends)

    def close(self) -> None:
        for fd in self.fds:
            os.close(fd)


def _poll(ctx, state, gen: Generator) -> dict:
    from logstash_forwarder_spark.sources.textlog import (
        lines_to_sequences,
        poll_tail_once,
        release_poll_checkpoint,
    )

    k = state["k"]
    state["k"] += 1
    op = f"poll{k}"
    c0 = ctx.clock.read()
    t0 = time.monotonic()
    run = None
    with ctx.tracer.span("poll", op=op) as span:
        with ctx.tracer.span("harvest", op=op):
            harvested, new_state = poll_tail_once(ctx.spark, state["glob"], state["offsets"])
            n = harvested.count()
        harvest_s = time.monotonic() - t0
        if n:
            seqs = lines_to_sequences(harvested)
            run = ctx.attempt(
                f"run_pipeline {op}", timed_run, ctx, seqs, state["dim"], state["out"], f"tail-p{k}", op
            )
        keep = ctx.tracer.enabled and state.get("sample") is None and n
        if keep:
            state["sample"] = harvested  # released after the prefix runs
        else:
            release_poll_checkpoint(harvested)
    end = time.monotonic()
    cpu = CpuClock.delta(c0, ctx.clock.read())
    state["offsets"] = new_state
    lookup_s = 0.0
    if run:
        committed, lookup_s = lookup(ctx, state["out"], f"tail-p{k}", op)
        ok = run["res"].rows_staged == n and len(committed) == 4
        ctx.attempt(f"{op} rows_staged and sinks", lambda: ok)
    fresh = []
    for f, path in enumerate(gen.paths):
        off = new_state.get(path, (0,))[0]
        lo = state["covered"][f]
        hi = bisect.bisect_right(gen.ends[f], off, lo)
        fresh.extend((gen.dues[f][i], end - gen.dues[f][i]) for i in range(lo, hi))
        state["covered"][f] = hi
    return {
        "wall": end - t0,
        "cpu": cpu,
        "span": span,
        "lines": n,
        "harvest_s": harvest_s,
        "lookup_s": lookup_s,
        "fresh": fresh,
    }


def _warm(ctx, state, n: int) -> list[float]:
    return [_poll(ctx, state, state["gen"])["wall"] for _ in range(n)]


def setup(ctx) -> dict:
    from logstash_forwarder_spark.datagen import gen_source_dim

    logs = os.path.join(ctx.run_dir, "logs")
    os.makedirs(logs)
    gen = Generator(logs, ctx.seed)
    state = {
        "gen": gen,
        "glob": os.path.join(logs, "*.log"),
        "out": os.path.join(ctx.run_dir, "out"),
        "offsets": {},
        "covered": [0] * len(SOURCES),
        "dim": gen_source_dim(ctx.spark),
        "k": 0,
    }
    gen.start()
    ctx.clock.exclude_tids = [gen.tid]
    time.sleep(1.0)  # so the first poll is poll-sized
    state["warmup_s"] = _warm(ctx, state, WARM_POLLS)
    return state


def rewarm(ctx, state) -> None:
    from logstash_forwarder_spark.datagen import gen_source_dim

    state["dim"] = gen_source_dim(ctx.spark)
    state["gen"].start()
    ctx.clock.exclude_tids = [state["gen"].tid]
    _warm(ctx, state, 1)


def measure(ctx, state) -> dict:
    """Polls back to back for the window, then stops the generator and
    drains. Freshness is sampled over the lines due inside the window."""
    gen = state["gen"]
    gated = 0
    while True:
        late0 = len(gen.late)
        w0 = time.monotonic()
        steal = StealMeter()
        polls = []
        while len(polls) < MIN_POLLS or time.monotonic() - w0 < ctx.seconds:
            polls.append(_poll(ctx, state, gen))
        if steal.share() <= STEAL_GATE or gated + 1 == MAX_WINDOWS:
            break
        gated += 1
    w1 = gen.stop()
    backlog = gen.written() - sum(state["covered"])
    drain = []
    while sum(state["covered"]) < gen.written() and len(drain) < 5:
        drain.append(_poll(ctx, state, gen))
    if ctx.tracer.enabled:
        from logstash_forwarder_spark.sources.textlog import (
            lines_to_sequences,
            release_poll_checkpoint,
        )

        sample = state.pop("sample")
        state["prefix"] = prefix_runs(ctx, lines_to_sequences(sample), state["dim"], "prefix")
        release_poll_checkpoint(sample)
    lat = [f for p in polls + drain for due, f in p["fresh"] if w0 <= due < w1]
    late = gen.late[late0:]
    return {
        "runs": polls,
        "n_ops": len(polls),
        "op_s": median([p["wall"] for p in polls]),
        "cpu_s_per_op": median([p["cpu"]["cpu"] for p in polls]),
        "latencies": lat,
        "lines": sum(p["lines"] for p in polls),
        "cpu_total": sum(p["cpu"]["cpu"] for p in polls),
        "noise": {
            "generator_late_p99_s": percentile(late, 99),
            "backlog_lines": backlog,
            "gated_windows": gated,
        },
    }


def layers(ctx, state, traced) -> dict:
    jobs = fold_event_log(os.path.join(ctx.run_dir, "eventlog"), ctx.tracer, phase_of)
    state["jobs"] = jobs
    polls = traced["runs"]
    out = run_layers(jobs, ctx.tracer, polls)
    out.update(state["prefix"])
    out["harvest.s"] = median([p["harvest_s"] for p in polls])
    out["harvest.lines"] = float(median([p["lines"] for p in polls]))
    out["registrar.commits"] = commits(state["out"])
    out["generator.late_p99_s"] = traced["noise"]["generator_late_p99_s"]
    out["tail.backlog_lines"] = float(traced["noise"]["backlog_lines"])
    return out


def check(ctx, state) -> None:
    """Everything written is in ``read_table``, once, in the sink an
    independent routing of the generated lines puts it."""
    from pyspark.sql import functions as F

    from logstash_forwarder_spark.pipeline import read_table

    gen = state["gen"]
    gen.close()
    df = read_table(ctx.spark, state["out"]).select("doc_id", "sink")
    got = df.groupBy("sink").agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")
    ).collect()
    ids = {r.doc_id for r in df.select("doc_id").collect()}
    want_ids = {f"{p}:{i}" for f, p in enumerate(gen.paths) for i in range(len(gen.ends[f]))}
    con = oracle_db()
    lines = pa.table(
        {
            "source": [src for f, src in enumerate(SOURCES) for _ in gen.n_tok[f]],
            "n_tok": [n for f in range(len(SOURCES)) for n in gen.n_tok[f]],
        }
    )
    con.register("lines", lines)
    want = dict(
        con.sql(
            f"SELECT {ORACLE_SINK} AS sink, count(*) FROM lines LEFT JOIN dim d USING (source) GROUP BY 1"
        ).fetchall()
    )
    total = sum(r.n for r in got)
    ctx.attempt("tail doc_ids are the lines written", lambda: ids == want_ids and total == len(ids))
    ctx.attempt("tail per-sink counts", lambda: {r.sink: r.n for r in got} == want)


def named(ctx, state, res) -> dict:
    from harness import tail_percentile

    lat = res["latencies"]
    out = {
        "offered_lines_per_s": RATE,
        "freshness_p50_s": median(lat),
        "freshness_samples": len(lat),
        "cpu_s_per_kline": res["cpu_total"] / res["lines"] * 1000,
        "error_rate": ctx.failed / ctx.attempted,
        "warmup_s": state["warmup_s"],
    }
    p = tail_percentile(len(lat))
    if p:
        out[f"freshness_p{p:g}_s"] = percentile(lat, p)
    return out
