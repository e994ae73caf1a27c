"""Shared pieces of the benchmark: the host-sized Spark session, process-tree
CPU and memory readings from /proc, the in-memory span tracer, the Spark
event-log fold, and the statistics every workload reports.

Nothing here imports the package at module load; workloads call the
package's public functions only.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
# Driver heap for local mode: 2 GiB holds every workload here, and leaves
# most of a small shared host to the Python workers and the page cache.
DRIVER_HEAP_MB = 2048


# --------------------------------------------------------------------------
# process tree: CPU-seconds and peak resident memory from /proc


def _read_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    # state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return int(f[1]), sum(int(x) for x in f[11:15]) / CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(d)
            if st:
                children.setdefault(st[0], []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _kind(pid: int, me: int) -> str:
    if pid == me:
        return "driver"
    if os.path.basename(_cmdline(pid).split(" ", 1)[0]) == "java":
        return "jvm"
    return "py"


class CpuClock:
    """CPU-seconds of the process tree: the Python driver, the Spark JVM and
    its Python workers. The JVM's own "executor CPU" misses the workers.

    ``exclude_tids`` are threads of this process (the tail workload's load
    generator) whose CPU belongs to the load, not to the system."""

    def __init__(self) -> None:
        self.exclude_tids: list[int] = []

    def read(self) -> dict[str, float]:
        """Cumulative CPU-seconds: ``driver`` (this Python process), ``jvm``
        and ``py`` (the Python workers and the rest of the tree); ``cpu`` is
        their sum."""
        me = os.getpid()
        out = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
        for pid in tree_pids(me):
            st = _read_stat(str(pid))
            if not st:
                continue
            out[_kind(pid, me)] += st[1]
        for tid in self.exclude_tids:
            st = _read_stat(f"{me}/task/{tid}")
            if st:
                out["driver"] -= st[1]
        out["cpu"] = out["driver"] + out["jvm"] + out["py"]
        return out

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of the process tree, summed per kind as in
    ``CpuClock.read``."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
    for pid in tree_pids(me):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        out[_kind(pid, me)] += kb / 1024
    return out


def read_steal_s() -> float:
    from logstash_forwarder_spark.benchutil import read_steal_jiffies

    return read_steal_jiffies() / CLK_TCK


# Hypervisor steal on this class of host comes in bursts that stall every
# vCPU at once. An operation (or tail window) that lost more than this share
# of the machine's CPU time to steal measured the host, not the code: it is
# recorded as gated and measured again, as benchutil.timed_trials does.
STEAL_GATE = 0.03


class StealMeter:
    """Share of all CPUs' time stolen since construction."""

    def __init__(self) -> None:
        self.t0, self.s0 = time.monotonic(), read_steal_s()

    def share(self) -> float:
        wall = time.monotonic() - self.t0
        return (read_steal_s() - self.s0) / (wall * (os.cpu_count() or 1))


def quiet(samples: list[dict], need: int = 1) -> list[dict]:
    """The samples within the steal gate or, when fewer than ``need`` are,
    the ``need`` least stolen, so a median never rests on fewer samples
    than the window was meant to hold."""
    q = [s for s in samples if s["steal"] <= STEAL_GATE]
    return q if len(q) >= need else sorted(samples, key=lambda s: s["steal"])[:need]


# --------------------------------------------------------------------------
# session


def open_session(cores: int, run_dir: str, *, event_log: bool, app: str):
    """A ``local[cores]`` session with shuffle width ``cores``, a heap that
    fits the host, and the JVM's temp and warehouse dirs inside ``run_dir``
    (its block-manager dirs come from ``SPARK_LOCAL_DIRS``, set by run.py)."""
    from logstash_forwarder_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": f"{DRIVER_HEAP_MB}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev})
    return get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def close_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until the JVM and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the gateway may already be gone
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans (name, start, end, parent, op). Disabled tracers hand
    out ``None`` and record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "v", None)
        if stack is None:
            stack = self._stack.v = []
        parent = stack[-1] if stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "op": op if op is not None else (self.spans[parent]["op"] if parent is not None else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        stack.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()


# --------------------------------------------------------------------------
# Spark event log


def _events(ev_dir: str):
    import pyarrow as pa

    for f in sorted(glob.glob(os.path.join(ev_dir, "*", "events_*"))):
        with pa.OSFile(f) as raw:
            stream = pa.CompressedInputStream(raw, "zstd") if f.endswith(".zstd") else raw
            data = stream.read().decode()
        for line in data.splitlines():
            if line:
                yield json.loads(line)


_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\n]+)"
)


def _write_target(plan: str) -> str | None:
    m = _WRITE_TARGET.search(plan)
    return m.group(1) if m else None


def fold_event_log(ev_dir: str, tracer: Tracer, classify=None) -> list[dict]:
    """Fold TaskEnd metrics into Spark jobs and attach each job to the
    innermost span covering its submission. ``classify(write_target)``
    names the pipeline phase a job belongs to from the path its SQL
    execution writes (None if it writes nothing)."""
    sql_target: dict[int, str | None] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in _events(ev_dir):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            sql_target[e["executionId"]] = _write_target(e.get("physicalPlanDescription", ""))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            target = sql_target.get(int(ex)) if ex is not None else None
            j = jobs[e["Job ID"]] = {
                "job": e["Job ID"],
                "submit": e["Submission Time"] / 1000,
                "end": None,
                "target": target,
                "phase": classify(target) if classify else None,
                "tasks": 0,
                "task_s": 0.0,
                "jvm_cpu_s": 0.0,
                "gc_s": 0.0,
                "in_bytes": 0,
                "out_bytes": 0,
                "shuffle_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = j["job"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            m = e.get("Task Metrics")
            if j is None or not m:
                continue
            j["tasks"] += 1
            j["task_s"] += m["Executor Run Time"] / 1000
            j["jvm_cpu_s"] += m["Executor CPU Time"] / 1e9
            j["gc_s"] += m["JVM GC Time"] / 1000
            j["in_bytes"] += m["Input Metrics"]["Bytes Read"]
            j["out_bytes"] += m["Output Metrics"]["Bytes Written"]
            j["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    spans = tracer.spans
    for j in jobs.values():
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= (s["end"] or math.inf):
                if best is None or s["start"] >= best["start"]:
                    best = s
        j["span"] = best["id"] if best else None
    return sorted(jobs.values(), key=lambda j: j["job"])


def jobs_under(jobs: list[dict], tracer: Tracer, span: dict) -> list[dict]:
    """Jobs attached to ``span`` or to any span nested in it."""
    ids = {span["id"]}
    for s in tracer.spans[span["id"] + 1 :]:
        if s["parent"] in ids:
            ids.add(s["id"])
    return [j for j in jobs if j["span"] in ids]


SPARK_FIELDS = ("task_s", "jvm_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"spark.jobs": float(len(jobs))}
    for k in SPARK_FIELDS:
        out[f"spark.{k}"] = float(sum(j[k] for j in jobs))
    return out


def job_wall(jobs: list[dict]) -> float:
    return sum((j["end"] or j["submit"]) - j["submit"] for j in jobs)


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    k = max(0, math.ceil(p / 100 * len(v)) - 1)
    return v[k]


def tail_percentile(n: int) -> float | None:
    """The highest of the usual percentiles with at least ten samples
    beyond it, or None when ``n`` is too small for any of them."""
    for p in (99.9, 99.0, 95.0, 90.0):
        if n * (1 - p / 100) >= 10:
            return p
    return None


def median(values):
    return statistics.median(values) if values else float("nan")


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))
