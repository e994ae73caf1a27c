"""Real process-kill resume test (VERDICT r1 #5).

The in-process fault injector (PipelineSpec.fail_after_sinks) raises a
Python exception — it cannot crash INSIDE os.replace or leave a half-written
checkpoint tmp file. This test does what spec/lumberjack_spec.rb:66-91 does
to the reference binary: run the CLI in a subprocess, SIGKILL the whole
process group mid-publish, resume with the same run_id in a fresh process,
and assert exactly-once delivery (no loss, no duplicates, lineage == data).
Verification is pure DuckDB — no Spark session in the test process.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

import duckdb

N_ROWS = 30_000
SINKS = ["sink_apache", "sink_default", "sink_dev", "sink_syslog"]


def _cli(out_dir: str, run_id: str) -> list[str]:
    return [
        sys.executable,
        "-m",
        "logstash_forwarder_spark.run",
        "--gen",
        str(N_ROWS),
        "--out",
        out_dir,
        "--run-id",
        run_id,
        "--master",
        "local[2]",
        "--shuffle-partitions",
        "4",
    ]


def _metrics(con, run_dir: str) -> list[tuple]:
    """The run's ``_metrics`` rows, ordered by (sink, source)."""
    return con.sql(
        f"SELECT sink, source, row_count, token_total, max_tokens "
        f"FROM read_parquet('{run_dir}/_metrics/*.parquet') ORDER BY 1, 2"
    ).fetchall()


def _source_totals(con, files: str) -> list[tuple]:
    """Per-(sink, source) totals over published data files, ordered like
    :func:`_metrics`; ``files`` is a DuckDB glob or list literal."""
    return con.sql(
        f"SELECT sink, source, count(*), sum(n_tok), max(n_tok) "
        f"FROM read_parquet({files}, hive_partitioning=true) GROUP BY ALL ORDER BY 1, 2"
    ).fetchall()


def test_sigkill_mid_publish_then_resume(tmp_path):
    out = str(tmp_path / "out")
    ckpt_glob = os.path.join(out, "_checkpoint", "*.parquet")
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(__file__))}

    proc = subprocess.Popen(
        _cli(out, "killrun"),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # so killpg takes the JVM down too
        env=env,
    )
    # kill mid-staging-write (a seconds-wide window: torn parquet part files
    # and no checkpoint) or, failing that, at the first checkpoint commit;
    # if the run outraces both polls, the resume checks below still must hold
    staging_glob = os.path.join(out, "run_id=killrun", "_staging", "sink=*", "*")
    killed = False
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline and proc.poll() is None:
        if glob.glob(staging_glob) or glob.glob(ckpt_glob):
            os.killpg(proc.pid, signal.SIGKILL)
            killed = True
            break
        time.sleep(0.005)
    proc.wait(timeout=60)
    assert killed or proc.returncode == 0, "run neither progressed nor finished"
    committed_after_kill = len(glob.glob(ckpt_glob))

    # resume with the SAME run_id in a fresh process
    res = subprocess.run(
        _cli(out, "killrun"), capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert sorted(summary["sinks_committed"] + summary["sinks_skipped"]) == SINKS
    if killed and committed_after_kill < len(SINKS):
        assert summary["sinks_committed"], "resume had work but did none"

    con = duckdb.connect()
    n, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/run_id=killrun/sink=*/*.parquet', hive_partitioning=true)"
    ).fetchone()
    # exactly-once: no loss, no duplicates — regardless of where the kill hit
    assert n == N_ROWS and n_distinct == N_ROWS
    lineage = dict(
        con.sql(
            f"SELECT sink, sum(row_count) FROM read_parquet('{out}/_checkpoint/*.parquet') "
            f"WHERE run_id = 'killrun' GROUP BY sink"
        ).fetchall()
    )
    data = dict(
        con.sql(
            f"SELECT sink, count(*) FROM "
            f"read_parquet('{out}/run_id=killrun/sink=*/*.parquet', hive_partitioning=true) "
            f"GROUP BY sink"
        ).fetchall()
    )
    for s in SINKS:
        assert lineage.get(s, 0) == data.get(s, 0), (s, lineage, data)
    assert _metrics(con, f"{out}/run_id=killrun") == _source_totals(
        con, f"'{out}/run_id=killrun/sink=*/*.parquet'"
    )
    # no stale staging dirs survive a completed resume
    assert not os.path.exists(f"{out}/run_id=killrun/_staging")
    assert not os.path.exists(f"{out}/run_id=killrun/_lineage_staging")


def test_sigkill_manifest_mode_then_resume(tmp_path):
    """The same real-SIGKILL exactly-once proof for the rename-free manifest
    protocol: kill mid-write/mid-commit, resume in a fresh process, then
    verify through the MANIFESTS (the only read path that protocol
    defines) — no loss, no duplicates, no unreferenced files left."""
    out = str(tmp_path / "outm")
    ckpt_glob = os.path.join(out, "_checkpoint", "*.parquet")
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(__file__))}
    cmd = _cli(out, "mkill") + ["--commit-mode", "manifest"]

    proc = subprocess.Popen(
        cmd,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,
        env=env,
    )
    run_dir = os.path.join(out, "run_id=mkill")
    progress_globs = [
        os.path.join(run_dir, "sink=*", "*"),  # data files landing in place
        os.path.join(run_dir, "_manifests", "*.json"),
        ckpt_glob,
    ]
    killed = False
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline and proc.poll() is None:
        if any(glob.glob(g) for g in progress_globs):
            os.killpg(proc.pid, signal.SIGKILL)
            killed = True
            break
        time.sleep(0.005)
    proc.wait(timeout=60)
    assert killed or proc.returncode == 0, "run neither progressed nor finished"

    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300, env=env)
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert sorted(summary["sinks_committed"] + summary["sinks_skipped"]) == SINKS

    # read through the manifests — the protocol's only defined read path
    manifest_files: list[str] = []
    per_sink_manifest: dict[str, int] = {}
    for s in SINKS:
        with open(os.path.join(run_dir, "_manifests", f"sink={s}.json")) as fh:
            m = json.load(fh)
        per_sink_manifest[s] = m["row_count"]
        listed = [os.path.join(run_dir, f) for f in m["files"]]
        manifest_files += listed
        # after a COMPLETED resume no unreferenced files remain on disk
        d = os.path.join(run_dir, f"sink={s}")
        on_disk = (
            sorted(
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
            if os.path.isdir(d)
            else []
        )
        assert on_disk == sorted(listed), (s, on_disk, listed)

    con = duckdb.connect()
    n, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet({manifest_files!r})"
    ).fetchone()
    assert n == N_ROWS and n_distinct == N_ROWS
    lineage = dict(
        con.sql(
            f"SELECT sink, sum(row_count) FROM read_parquet('{ckpt_glob}') "
            f"WHERE run_id = 'mkill' GROUP BY sink"
        ).fetchall()
    )
    for s in SINKS:
        assert lineage.get(s, 0) == per_sink_manifest[s], (s, lineage, per_sink_manifest)
    assert _metrics(con, run_dir) == _source_totals(con, repr(manifest_files))
