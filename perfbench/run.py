#!/usr/bin/env python3
"""End-to-end benchmark of ``plans.pipeline.run_extract_job``.

    python3 perfbench/run.py --workload chat_mix --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. One process runs one job at a time on
``local[nproc]`` (a closed loop with one client), with the job settings
``scripts/run_extract.py`` resolves from ``sources.config.DEFAULT_CONFIG``.

- ``--trace 0``: builds the session and runs the warm-up extraction of
  ``run_extract.py --warmup`` (together ``setup_s``), then one small
  untimed job (see ``Bench.warm_up``), then timed jobs for ``--seconds``,
  at least one, checking each job's output against the oracle. The
  end-to-end metrics are medians over the timed jobs.
- ``--trace 1``: a traced session (span wrappers and Spark's event log)
  warms up and runs one job; then an untraced session in a fresh JVM
  does the same, for ``trace.overhead_s``; then the kernels run in
  process.

Inputs, records and scratch warehouses live under ``.perfbench/`` in the
repository root. Each run appends a record, keyed by the host
fingerprint, to ``.perfbench/records.jsonl``; compare records only
within one fingerprint. The last stdout line is the JSON result;
everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = "advanced_text_extraction_spark"

WORKLOADS = ("chat_mix", "doc_heavy")
KERNEL_TYPES = ("text", "html", "pdf", "docx", "excel", "powerpoint")
KERNELS = ("sniff", "normalize", "html", "pdf", "office", "lang")

# The per-layer metrics a traced run prints: unit, and the end-to-end
# metric each should move, on which workload. The traced run measures a
# few more (Python worker boot time; shuffle fetch wait, always 0 in
# local mode); those go to the record only.
_SETUP = "setup_s, all workloads"
_FIXED = "wall_s on chat_mix (fixed per-job cost)"
_BULK = "wall_s on chat_mix and doc_heavy; output_mb"
_KERNEL = "turns_per_s on doc_heavy"
PER_LAYER = {
    "session.build_s": ("s", _SETUP),
    "session.warmup_s": ("s", _SETUP),
    "pipeline.self_s": ("s", _FIXED),
    "pipeline.extract_tasks": ("count", "wall_s on chat_mix; little on "
                                        "doc_heavy"),
    "pipeline.empty_tasks": ("count", "wall_s on chat_mix; little on "
                                      "doc_heavy"),
    "catalog.completed_buckets_s": ("s", _FIXED),
    "catalog.bucket_row_counts_s": ("s", _FIXED),
    "catalog.append_lineage_s": ("s", _FIXED),
    "catalog.write_extracted_s": ("s", _BULK),
    "catalog.files_written": ("count", _BULK),
    "spark.scan_stage_s": ("s", _FIXED),
    "spark.extract_stage_s": ("s", "wall_s on chat_mix and doc_heavy"),
    "spark.task_run_core_s": ("core-s", _KERNEL),
    "spark.task_cpu_core_s": ("core-s", _KERNEL),
    "spark.gc_core_s": ("core-s", _KERNEL),
    "spark.spill_mb": ("MB", _KERNEL + "; worker_peak_rss_mb"),
    "spark.shuffle_write_mb": ("MB", "wall_s on chat_mix"),
    "extract.python_init_core_s": ("core-s", "wall_s on chat_mix; not "
                                             "doc_heavy"),
    "extract.python_exec_core_s": ("core-s", _KERNEL),
    "extract.to_python_mb": ("MB", _KERNEL),
    "extract.from_python_mb": ("MB", _KERNEL),
    "extract.rows_in": ("count", "wall_s on chat_mix (dedupe)"),
    "extract.rows_kept": ("count", "wall_s on chat_mix (dedupe)"),
    "extract.kept_ratio": ("ratio", "wall_s on chat_mix (dedupe)"),
    "extract.kernel_core_s": ("core-s", _KERNEL),
    "extract.glue_core_s": ("core-s", "wall_s on chat_mix"),
    **{f"kernels.proc_core_s.{t}": ("core-s", "wall_s on chat_mix")
       if t == "text" else ("core-s", "wall_s on doc_heavy")
       for t in KERNEL_TYPES},
    **{f"kernels.{k}_us": ("us", "wall_s on chat_mix")
       if k in ("sniff", "normalize", "lang")
       else ("us", "wall_s on doc_heavy") for k in KERNELS},
    "trace.overhead_s": ("s", "none: traced minus untraced wall_s"),
}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    """False once ``pid`` has exited; reaps it if it is our zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class WorkerRssSampler:
    """Peak summed RSS of the Spark Python worker processes (the
    ``pyspark.daemon`` process and the workers it forks), sampled from
    /proc every 100 ms while the block runs."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me)
                        if _is_python_worker(p))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM
    and the Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = [proc.pid] + descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while alive := [p for p in tree if _alive(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


# ----------------------------------------------------------------- records

def fingerprint() -> dict:
    import pyarrow
    import pyspark

    cpu = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": nproc(), "mem_gb": round(mem_kb / 2**20, 1),
            "cpu": cpu, "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def commit() -> dict:
    """The git commit when run from a clone, and always a hash of the
    program's sources, which identifies the code in a plain checkout."""
    h = hashlib.sha256()
    for d in (PACKAGE, "fixtures", "oracle", "scripts"):
        for f in sorted((ROOT / d).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    rev = None
    if (ROOT / ".git").exists():
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True,
                                 check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return {"git": rev, "source_sha": h.hexdigest()[:16]}


def job_config() -> dict:
    """The job settings ``scripts/run_extract.py`` resolves when given no
    config file and no flags."""
    from advanced_text_extraction_spark.sources.config import load_config

    cfg = load_config(None)
    job, ocr, ext = cfg["job"], cfg["ocr"], cfg["extract"]
    engine = ocr["fallback_engine"]
    return {
        "session": {"master": f"local[{nproc()}]",
                    "shuffle_partitions": job["shuffle_partitions"],
                    "arrow_batch_rows": job["arrow_batch_rows"]},
        "job": {"n_buckets": job["n_buckets"], "salt": job["salt"],
                "resume": bool(job["resume"]),
                "ocr_fallback_engine": None if engine in ("none", "")
                else engine,
                "ocr_preprocess": bool(ocr["preprocess"]),
                "ocr_confidence_threshold":
                    float(ext["confidence_threshold"]),
                "max_payload_chars": int(ext["max_payload_chars"])},
    }


# -------------------------------------------------------------------- jobs

class Bench:
    """One workload's inputs, job settings and job tally."""

    def __init__(self, entry: Path) -> None:
        import pandas as pd

        timed = entry / "timed"
        self.input = timed / "input.parquet"
        self.manifest = json.loads((timed / "manifest.json").read_text())
        self.expected = pd.read_parquet(timed / "expected.parquet")
        self.planted = {(c, int(t))
                        for c, t in self.manifest["planted_keys"]}
        self.warm_input = entry / "warm" / "input.parquet"
        self.config = job_config()
        self.warehouse = WORK / "warehouse" / uuid.uuid4().hex[:8]
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def start_session(self, extra_conf: dict | None = None):
        """Build the session and run the warm-up extraction of
        ``run_extract.py --warmup``, over the warm input rather than the
        timed one; returns (spark, build seconds, warm-up seconds)."""
        from advanced_text_extraction_spark.operators.extract import extract
        from advanced_text_extraction_spark.sources import session

        t0 = time.perf_counter()
        spark = session.build_session(app_name="perfbench",
                                      extra_conf=extra_conf,
                                      **self.config["session"])
        t1 = time.perf_counter()
        df = spark.read.parquet(str(self.warm_input))
        n = spark.sparkContext.defaultParallelism
        (extract(df.limit(64 * n).repartition(n))
         .write.format("noop").mode("overwrite").save())
        return spark, t1 - t0, time.perf_counter() - t1

    def warm_up(self, spark) -> float:
        """One untimed ``run_extract_job`` over the warm input, with one
        bucket per core and no salt: it runs the whole job path once
        (resume probe, exchange, extract, sort, write, lineage) before
        anything is timed. Without it the first job in a session pays
        several seconds of JIT compilation and first use, by an amount
        that differs a lot from session to session. Returns its seconds."""
        from advanced_text_extraction_spark.plans import pipeline

        shutil.rmtree(self.warehouse, ignore_errors=True)
        cfg = dict(self.config["job"], n_buckets=nproc(), salt=1)
        t0 = time.perf_counter()
        pipeline.run_extract_job(spark, spark.read.parquet(
            str(self.warm_input)), str(self.warehouse), **cfg)
        return time.perf_counter() - t0

    def job(self, spark) -> dict | None:
        """One checked ``run_extract_job`` over the timed input on a
        fresh warehouse; None if it raised or its output failed the
        check."""
        from advanced_text_extraction_spark.plans import pipeline
        from check import check_output, read_extracted

        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.attempted += 1
        try:
            df = spark.read.parquet(str(self.input))
            with WorkerRssSampler() as rss:
                t0 = time.perf_counter()
                pipeline.run_extract_job(spark, df, str(self.warehouse),
                                         **self.config["job"])
                wall = time.perf_counter() - t0
            log(f"job {wall:.3f} s")
            problems = check_output(self.warehouse, self.expected,
                                    self.planted)
        except Exception:
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            self.problems += problems
            log("job FAILED: " + "; ".join(problems))
            return None
        out = read_extracted(self.warehouse)
        size = sum(f.stat().st_size
                   for f in (self.warehouse / "extracted").rglob("*.parquet"))
        return {"wall_s": wall, "peak_rss_mb": rss.peak / 1e6,
                "output_mb": size / 1e6,
                "error_rows": int((out["status"] == "error").sum())}


def end_to_end(bench: Bench, seconds: float) -> tuple[dict, dict]:
    spark, build_s, warmup_s = bench.start_session()
    setup_s = build_s + warmup_s
    log(f"setup {setup_s:.3f} s")
    runs = []
    try:
        warm_job_s = bench.warm_up(spark)
        log(f"warm-up job {warm_job_s:.3f} s")
        # start a job only if it can end within ``seconds``, judged by
        # the last one, so a run's length stays within its budget
        t0 = time.perf_counter()
        while True:
            t = time.perf_counter()
            r = bench.job(spark)
            if r is not None:
                runs.append(r)
            now = time.perf_counter()
            if now - t0 + (now - t) > seconds:
                break
    finally:
        shutdown_spark(spark)
    rows_in = bench.manifest["input_rows"]
    metrics = {"setup_s": (setup_s, "s")}
    if runs:
        wall = statistics.median(r["wall_s"] for r in runs)
        metrics.update({
            "wall_s": (wall, "s"),
            "turns_per_s": (rows_in / wall, "1/s"),
            "worker_peak_rss_mb": (statistics.median(
                r["peak_rss_mb"] for r in runs), "MB"),
            "output_mb": (statistics.median(
                r["output_mb"] for r in runs), "MB"),
            "error_row_frac": (statistics.median(
                r["error_rows"] for r in runs) / rows_in, "ratio"),
        })
    samples = {"setup_build_s": build_s, "setup_warmup_s": warmup_s,
               "warm_job_s": warm_job_s, "timed_jobs": runs}
    return metrics, samples


def traced(bench: Bench, workload_payloads: list[str]) -> tuple[dict, dict]:
    import layers as tr
    from check import read_extracted, read_lineage

    log_dir = WORK / "eventlog" / uuid.uuid4().hex[:8]
    log_dir.mkdir(parents=True)
    tracer = tr.Tracer()
    tr.install(tracer)
    try:
        spark, _, warmup_s = bench.start_session(tr.event_log_conf(log_dir))
        try:
            bench.warm_up(spark)
            traced_run = bench.job(spark)
            job_span = tracer.last("pipeline.run_extract_job")
            out = read_extracted(bench.warehouse)
            lineage = read_lineage(bench.warehouse)
            files = len(list((bench.warehouse / "extracted")
                             .rglob("*.parquet")))
        finally:
            shutdown_spark(spark)  # also flushes the event log
    finally:
        tracer.unwrap_all()

    # the untraced reference starts from a cold JVM too
    spark, _, _ = bench.start_session()
    try:
        bench.warm_up(spark)
        untraced_run = bench.job(spark)
    finally:
        shutdown_spark(spark)

    layer = tr.parse_event_log(tr.find_event_log(log_dir),
                               job_span.start, job_span.end)
    for child in job_span.children:
        layer[child.name + "_s"] = layer.get(child.name + "_s", 0.0) \
            + child.seconds
    layer["pipeline.self_s"] = job_span.self_seconds
    layer["session.build_s"] = tracer.last("session.build").seconds
    layer["session.warmup_s"] = warmup_s
    layer["catalog.files_written"] = files
    rows_in = int(lineage["input_rows"].sum())
    rows_kept = int(lineage["output_rows"].sum())
    layer.update({"extract.rows_in": rows_in, "extract.rows_kept": rows_kept,
                  "extract.kept_ratio": rows_kept / rows_in})
    proc = out.groupby("content_type")["proc_us"].sum()
    for t in KERNEL_TYPES:
        layer[f"kernels.proc_core_s.{t}"] = float(proc.get(t, 0)) / 1e6
    layer["extract.kernel_core_s"] = float(out["proc_us"].sum()) / 1e6
    layer["extract.glue_core_s"] = (layer.get("extract.python_exec_core_s", 0)
                                    - layer["extract.kernel_core_s"])
    layer.update(tr.kernel_pass(workload_payloads))
    if traced_run and untraced_run:
        layer["trace.overhead_s"] = (traced_run["wall_s"]
                                     - untraced_run["wall_s"])
    metrics = {k: (float(layer[k]), u) for k, (u, _) in PER_LAYER.items()
               if k in layer}
    samples = {"layer": layer, "traced_job": traced_run,
               "untraced_job": untraced_run,
               "spans": [(s.name, s.start, s.end) for s in tracer.spans]}
    return metrics, samples


# -------------------------------------------------------------------- main

def prepare_environment() -> None:
    """Keep every file the run writes inside the repository, and let
    the Spark Python workers import the package from any directory."""
    for d in (PACKAGE, "fixtures", "oracle"):
        if not (ROOT / d).is_dir():
            sys.exit(f"perfbench: {ROOT / d} is missing; run from a "
                     f"checkout of the repository")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # PerfDisableSharedMem: no /tmp/hsperfdata_<user> file, neither from
    # the JVM that runs Spark nor from the one spark-submit launches first
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = java_opts
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.chdir(ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_environment()
    import workloads

    t0 = time.perf_counter()
    entry = workloads.materialize(args.workload, args.seed,
                                  WORK / "cache", min(4, nproc()))
    log(f"inputs ready in {time.perf_counter() - t0:.1f} s: {entry.name}")
    bench = Bench(entry)
    try:
        if args.trace:
            import pandas as pd
            payloads = list(pd.read_parquet(bench.input)
                            .drop_duplicates(["conv_id", "turn_idx"])
                            .sort_values(["conv_id", "turn_idx"])["text"])
            metrics, samples = traced(bench, payloads)
        else:
            metrics, samples = end_to_end(bench, args.seconds)
    finally:
        shutil.rmtree(bench.warehouse, ignore_errors=True)

    failed_frac = bench.failed / max(bench.attempted, 1)
    record = {
        "fingerprint": fingerprint(), "commit": commit(),
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds,
        "config": bench.config,
        "inputs": {k: v for k, v in bench.manifest.items()
                   if k != "planted_keys"},
        "attempted": bench.attempted, "failed": bench.failed,
        "failed_frac": failed_frac, "problems": bench.problems,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "samples": samples,
    }
    record["fingerprint_id"] = hashlib.sha256(json.dumps(
        record["fingerprint"], sort_keys=True).encode()).hexdigest()[:12]
    with open(WORK / "records.jsonl", "a") as f:
        f.write(json.dumps(record, default=str) + "\n")

    for name, (value, unit) in metrics.items():
        log(f"{args.workload:10s} {name:34s} {value:14.4f} {unit}")
    log(f"{args.workload:10s} failed_frac {failed_frac} "
        f"({bench.failed}/{bench.attempted} jobs); output check "
        f"{'passed' if not bench.failed else 'FAILED'}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
