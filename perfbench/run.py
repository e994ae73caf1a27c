"""The repository's benchmark: bulk pipeline, live tail and corpus queries.

    python3 perfbench/run.py --workload bulk_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --scaling            # 1-core vs all-core report, not gated

Run from the root of a checkout. One process drives one workload at
``local[nproc]`` through the package's public functions, measures for
``--seconds`` after warm-up, checks the outputs outside the timed windows
and prints, as its last stdout line, ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` additionally re-measures with spans and the
Spark event log on and reports the per-layer metrics. The line before the
last one holds the full record: host, noise, the named per-workload
metrics, sample counts and (traced) the whole layer breakdown, which is
also written with the spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_pipeline", "tail_follow", "corpus_queries")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    """What a workload gets: the session, its seed and window, a private
    scratch dir, the tracer and the CPU clock."""

    def __init__(self, args, run_dir: str) -> None:
        from harness import CpuClock, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores or _cores()
        self.run_dir = run_dir
        self.clock = CpuClock()
        self.tracer = Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def open(self, *, event_log: bool) -> None:
        from harness import open_session

        self.spark = open_session(
            self.cores, self.run_dir, event_log=event_log, app="perfbench"
        )

    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation or check; count it, and count it failed on an
        exception or a False result."""
        self.attempted += 1
        try:
            out = fn(*a, **kw)
        except Exception:  # noqa: BLE001 - one failure must not end the run
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None
        if out is False:
            self.failed += 1
            self.errors.append(f"{what}: check failed")
        return out


def _workload(name: str):
    if name == "bulk_pipeline":
        import bulk as mod
    elif name == "tail_follow":
        import tail as mod
    else:
        import corpus as mod
    return mod


def _run(args) -> int:
    from harness import DRIVER_HEAP_MB, close_session, peak_rss_mb, read_steal_s

    t_start = time.monotonic()
    run_dir = os.path.join(
        ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers import the package from the checkout, whatever the
    # JVM's working directory; every temp file lands in this run's dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None
    fixtures_before = set(glob.glob("/tmp/lfs_*"))
    steal0, load0 = read_steal_s(), os.getloadavg()

    ctx = Ctx(args, run_dir)
    mod = _workload(args.workload)
    record: dict = {"workload": args.workload, "seed": args.seed}
    try:
        ctx.open(event_log=False)
        session_s = time.monotonic() - t_start
        state = mod.setup(ctx)
        setup_s = time.monotonic() - t_start
        res = mod.measure(ctx, state)
        rss_by_kind = peak_rss_mb()
        rss = sum(rss_by_kind.values())
        steal1, load1 = read_steal_s(), os.getloadavg()
        layers = None
        if args.trace:
            # Same workload again with spans and the event log on, in a new
            # SparkContext on the same JVM; the difference in per-operation
            # wall is the tracing overhead.
            from harness import Tracer

            ctx.spark.stop()
            ctx.tracer = Tracer(True)
            ctx.open(event_log=True)
            mod.rewarm(ctx, state)
            traced = mod.measure(ctx, state)
            ctx.spark.stop()
            layers = mod.layers(ctx, state, traced)
            layers["tracing.overhead_s"] = traced["op_s"] - res["op_s"]
            ctx.open(event_log=False)
        mod.check(ctx, state)
        record["named"] = mod.named(ctx, state, res)
    finally:
        if ctx.spark is not None:
            close_session(ctx.spark)
        for p in set(glob.glob("/tmp/lfs_*")) - fixtures_before:
            shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = res["latencies"]
    from harness import median, percentile

    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "op_s": res["op_s"],
        "cpu_s_per_op": res["cpu_s_per_op"],
        "latency_p50_s": median(lat),
        "latency_p99_s": percentile(lat, 99),
    }
    record.update(
        host={
            "cores": ctx.cores,
            "driver_heap_mb": DRIVER_HEAP_MB,
            "spark": _spark_version(),
            "python": sys.version.split()[0],
        },
        noise={
            "steal_s": steal1 - steal0,
            "loadavg_start": load0,
            "loadavg_end": load1,
            **res.get("noise", {}),
        },
        samples={"ops": res["n_ops"], "latencies": len(lat)},
        session_s=session_s,
        rss_mb=rss_by_kind,
        e2e=e2e,
        errors=ctx.errors,
    )
    if layers is not None:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"layers": layers, "spans": ctx.tracer.spans, "jobs": state.get("jobs", [])}, fh)
        record["layers"] = layers
        record["trace_file"] = os.path.relpath(path, ROOT)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in declared
    }
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="local[N]; default nproc")
    ap.add_argument("--scaling", action="store_true", help="bulk_pipeline at 1 and nproc cores")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logstash_forwarder_spark", "pipeline.py")):
        print(f"perfbench: no logstash_forwarder_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if args.scaling:
        from scaling import scaling_report

        return scaling_report(args)
    if args.workload is None:
        ap.error("--workload is required")
    return _run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
