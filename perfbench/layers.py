"""Per-layer measurement for the traced run.

Three sources, none of them inside the program:

- spans, recorded by timing wrappers that this module installs around
  the public functions of ``sources.session``, ``plans.pipeline`` and
  ``sources.catalog``;
- Spark's own event log, switched on for the traced session only and
  parsed here for stage walls, task metrics and the ``MapInPandas`` SQL
  metrics that split Python-UDF start-up and transfer from execution;
- an in-process pass of the extraction kernels over the workload's own
  payloads, with no Spark in the way.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float                 # epoch seconds, comparable with Spark's
    end: float = 0.0             # event-log millisecond timestamps
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


class Tracer:
    """Keeps spans in memory; wrappers nest by call order."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        if self._open:
            self._open[-1].children.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self.spans.append(s)

    def wrap(self, module: object, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def last(self, name: str) -> Span:
        return [s for s in self.spans if s.name == name][-1]


CATALOG_FUNCTIONS = ("completed_buckets", "bucket_row_counts",
                     "append_lineage", "write_extracted")


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the benchmark calls or the job calls
    through module attributes."""
    from advanced_text_extraction_spark.plans import pipeline
    from advanced_text_extraction_spark.sources import catalog, session

    tracer.wrap(session, "build_session", "session.build")
    tracer.wrap(pipeline, "run_extract_job", "pipeline.run_extract_job")
    for fn in CATALOG_FUNCTIONS:
        tracer.wrap(catalog, fn, f"catalog.{fn}")


def event_log_conf(log_dir: Path) -> dict[str, str]:
    # one plain-JSON file per application, so the parser needs no codec
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_PYTHON_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def parse_event_log(path: Path, start: float, end: float) -> dict[str, float]:
    """Stage, task and ``MapInPandas`` metrics of the stages submitted
    between ``start`` and ``end`` (epoch seconds).

    The extract stage is the one whose tasks report ``MapInPandas``
    metrics; the scan stage is any other stage that writes shuffle data.
    """
    python_acc: dict[int, str] = {}
    stages: dict[int, tuple[int, int]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart",
                              "SQLAdaptiveExecutionUpdate")):
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    if node["nodeName"] != "MapInPandas":
                        continue
                    for m in node["metrics"]:
                        if m["name"] in _PYTHON_METRICS:
                            python_acc[m["accumulatorId"]] = \
                                _PYTHON_METRICS[m["name"]]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = (info["Submission Time"],
                                            info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)

    lo, hi = start * 1000, end * 1000
    out = defaultdict(float)
    for stage_id, (submitted, completed) in stages.items():
        if not lo <= submitted <= hi:
            continue
        py = defaultdict(float)
        shuffle_written = 0
        empty = 0
        for ev in tasks[stage_id]:
            m = ev["Task Metrics"]
            out["spark.task_run_core_s"] += m["Executor Run Time"] / 1e3
            out["spark.task_cpu_core_s"] += m["Executor CPU Time"] / 1e9
            out["spark.gc_core_s"] += m["JVM GC Time"] / 1e3
            out["spark.spill_mb"] += m["Disk Bytes Spilled"] / 1e6
            out["spark.shuffle_fetch_wait_s"] += \
                m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
            written = m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            shuffle_written += written
            empty += m["Shuffle Read Metrics"]["Total Records Read"] == 0
            for acc in ev["Task Info"]["Accumulables"]:
                key = python_acc.get(acc["ID"])
                if key is not None:
                    py[key] += float(acc["Update"])
        out["spark.shuffle_write_mb"] += shuffle_written / 1e6
        wall = (completed - submitted) / 1e3
        if py:
            out["spark.extract_stage_s"] += wall
            out["pipeline.extract_tasks"] += len(tasks[stage_id])
            out["pipeline.empty_tasks"] += empty
            out["extract.python_boot_core_s"] += py["boot_ms"] / 1e3
            out["extract.python_init_core_s"] += py["init_ms"] / 1e3
            out["extract.python_exec_core_s"] += py["run_ms"] / 1e3
            out["extract.to_python_mb"] += py["sent_bytes"] / 1e6
            out["extract.from_python_mb"] += py["returned_bytes"] / 1e6
        elif shuffle_written:
            out["spark.scan_stage_s"] += wall
    return dict(out)


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir()
            if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {[p.name for p in logs]}")
    return logs[0]


KERNEL_SAMPLE = 40


def kernel_pass(payloads: list[str]) -> dict[str, float]:
    """Mean microseconds per payload of each extraction kernel, called
    in process on up to ``KERNEL_SAMPLE`` payloads of each content type
    (in the order given), the way ``operators.extract.extract_one``
    dispatches them."""
    from advanced_text_extraction_spark.kernels.html_extract import \
        extract_html
    from advanced_text_extraction_spark.kernels.lang import detect_language
    from advanced_text_extraction_spark.kernels.normalize import \
        normalize_plain
    from advanced_text_extraction_spark.kernels.office_extract import \
        extract_office
    from advanced_text_extraction_spark.kernels.pdf_extract import \
        extract_pdf
    from advanced_text_extraction_spark.kernels.sniff import \
        sniff_content_type

    clock = time.perf_counter_ns
    samples: dict[str, list[int]] = defaultdict(list)
    taken: dict[str, int] = defaultdict(int)

    def timed(kernel: str, fn, *args):
        t0 = clock()
        try:
            return fn(*args)
        except Exception:  # malformed payloads fail here, as in the job
            return None
        finally:
            samples[kernel].append(clock() - t0)

    for raw in payloads:
        t0 = clock()
        ctype, blob, err = sniff_content_type(raw)
        sniff_ns = clock() - t0
        if taken[ctype] >= KERNEL_SAMPLE:
            continue
        taken[ctype] += 1
        samples["sniff"].append(sniff_ns)
        text = ""
        if ctype == "text":
            text = timed("normalize", normalize_plain, raw)
        elif ctype == "html":
            text = (timed("html", extract_html, raw) or ("",))[0]
        elif ctype == "pdf" and not err:
            text = (timed("pdf", extract_pdf, blob) or ("",))[0]
        elif ctype == "office" and not err:
            text = (timed("office", extract_office, blob) or ("", ""))[1]
        timed("lang", detect_language, text)
    return {f"kernels.{k}_us": sum(v) / len(v) / 1e3
            for k, v in samples.items()}
