#!/usr/bin/env python
"""Scale-headroom probe: one extraction run at 4x the scaling bench's
input (default 24M turns) on unpinned local[32].

    python scripts/bigrun_probe.py [--mult 4800] [--tmp DIR]

The standard scaling evidence (BENCH/BASELINE.md) runs 6M turns; this
probe answers the next question a capacity planner asks — does the job
stay memory-bounded and linear when the input quadruples? It streams
Arrow batches through the same mapInPandas kernel, so peak memory is
O(batch x cores), not O(input); the lineage accumulator carries
per-bucket tuples (O(buckets), not O(rows)); and the resume probe
re-runs the finished job to show the anti-join stays cheap as the
lineage table grows. Writes ONE JSON line and BENCH/last_bigrun.json.

Interference caveat: single run, bracketed by the same busy-loop
calibration bench.py uses — read turns/sec against the bracket, and
against mult-1200 pooled minima, not in isolation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # the probe reuses bench.py's synth/run/calibrate helpers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=4800)
    ap.add_argument("--tmp", default=bench.SCALING_TMP or None)
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="ate_bigrun_",
                                     dir=args.tmp) as td:
        inp = os.path.join(td, "transcripts")
        t0 = time.time()
        n = bench._synth_input(inp, args.mult)
        synth_sec = round(time.time() - t0, 1)
        print(f"input: {n} turns ({synth_sec}s synth)", file=sys.stderr)

        cal_pre = round(bench._calibrate(24), 1)
        out = os.path.join(td, "wh")
        cpus = bench.CPUS
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "run_extract.py"),
             "--input", inp, "--output", out,
             "--master", f"local[{cpus}]", "--no-resume", "--warmup",
             "--shuffle-partitions", "128", "--salt", "16"],
            capture_output=True, text=True, check=True, timeout=3600,
            env=bench._subproc_env(f"local[{cpus}]"), cwd=REPO)
        stats = json.loads(proc.stdout.strip().splitlines()[-1])
        # resume probe at this scale: the finished job must noop fast
        t1 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts",
                                          "run_extract.py"),
             "--input", inp, "--output", out,
             "--master", f"local[{cpus}]",
             "--shuffle-partitions", "128", "--salt", "16"],
            capture_output=True, text=True, check=True, timeout=1800,
            env=bench._subproc_env(f"local[{cpus}]"), cwd=REPO)
        resume = json.loads(proc.stdout.strip().splitlines()[-1])
        resume_sec = round(time.time() - t1, 1)
        cal_post = round(bench._calibrate(24), 1)

    result = {
        "metric": "bigrun_turns_per_sec", "unit": "turns/sec",
        "value": stats["turns_per_sec"], "rows": stats["input_rows"],
        "mult": args.mult, "master": f"local[{bench.CPUS}]",
        "wall_sec": stats["wall_sec"], "synth_sec": synth_sec,
        "resume_noop_sec": resume_sec,
        "resume_buckets_skipped": len(resume.get("buckets_skipped", [])),
        "resume_input_rows": resume.get("input_rows"),
        "host_cal_miters_24p_pre": cal_pre,
        "host_cal_miters_24p": cal_post,
    }
    with open(os.path.join(REPO, "BENCH", "last_bigrun.json"), "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
