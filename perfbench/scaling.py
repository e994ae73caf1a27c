"""North-rule scaling report, not gated: ``bulk_pipeline`` at ``local[1]``
and at ``local[nproc]``, each in a fresh process (a live session ignores a
new master). Reports sequences per second at each size, the single-threaded
baseline, and the 1 → nproc efficiency of BASELINE.json's metric
(throughput ratio divided by the core ratio; the north rule asks ≥ 0.8).
Writes ``.perfbench/scaling.json`` and prints it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def scaling_report(args) -> int:
    n = len(os.sched_getaffinity(0))
    runs = {}
    for cores in (1, n):
        p = subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "run.py"),
                "--workload",
                "bulk_pipeline",
                "--seed",
                str(args.seed),
                "--seconds",
                str(args.seconds),
                "--cores",
                str(cores),
            ],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=900,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(p.stderr[-4000:], file=sys.stderr)
            return 1
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs[cores] = {
            "correct": result["correct"],
            "seq_per_s": record["named"]["seq_per_s"],
            "cpu_s_per_mseq": record["named"]["cpu_s_per_mseq"],
            "ops": record["samples"]["ops"],
            "noise": record["noise"],
        }
    report = {
        "workload": "bulk_pipeline",
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": [1, n],
        "host": record["host"],
        "single_thread_seq_per_s": runs[1]["seq_per_s"],
        "seq_per_s": runs[n]["seq_per_s"],
        "efficiency": runs[n]["seq_per_s"] / runs[1]["seq_per_s"] / n,
        "runs": runs,
    }
    out = os.path.join(ROOT, ".perfbench", "scaling.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    return 0 if all(r["correct"] for r in runs.values()) else 1
