"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import check  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


def _parquet_bytes(df) -> bytes:
    buf = io.BytesIO()
    df.to_parquet(buf, index=False)
    return buf.getvalue()


@pytest.mark.parametrize("workload", sorted(workloads.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(workload, monkeypatch):
    first = {p: _parquet_bytes(workloads.generate(workload, 5, p)[0])
             for p in workloads.PARTS}
    # a later wall clock must not leak into the OOXML zip entries
    real_time = time.time
    monkeypatch.setattr(time, "time", lambda: real_time() + 86_400)
    again = {p: _parquet_bytes(workloads.generate(workload, 5, p)[0])
             for p in workloads.PARTS}
    assert first == again
    other = _parquet_bytes(workloads.generate(workload, 6)[0])
    assert other != first["timed"]
    assert first["warm"] != first["timed"]


def test_generators_plant_what_they_report():
    df, dups, planted = workloads.gen_chat_mix(5, 400)
    keys = df[["conv_id", "turn_idx"]].drop_duplicates()
    assert dups == len(df) - len(keys) > 0
    expected = workloads.expected_outputs(df)
    errors = expected[expected["status"] == "error"]
    assert set(zip(errors["conv_id"], errors["turn_idx"])) == set(planted)
    assert len(planted) == 3


@pytest.fixture(scope="module")
def tiny_job(tmp_path_factory):
    """A small chat_mix job with Spark's event log on, stopped."""
    tmp = tmp_path_factory.mktemp("perfbench")
    df, _, planted = workloads.gen_chat_mix(11, 300)
    df.to_parquet(tmp / "input.parquet", index=False)
    expected = workloads.expected_outputs(df)
    log_dir = tmp / "events"
    log_dir.mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(HERE.parent), os.environ.get("PYTHONPATH", "")])
    from advanced_text_extraction_spark.plans.pipeline import run_extract_job
    from advanced_text_extraction_spark.sources.session import build_session

    spark = build_session(app_name="perfbench-test", master="local[2]",
                          extra_conf=layers.event_log_conf(log_dir))
    try:
        t0 = time.time()
        run_extract_job(spark, spark.read.parquet(str(tmp / "input.parquet")),
                        str(tmp / "wh"), n_buckets=4, salt=2)
        t1 = time.time()
    finally:
        spark.stop()
    return {"root": tmp / "wh", "expected": expected,
            "planted": set(planted), "log": layers.find_event_log(log_dir),
            "window": (t0, t1)}


def test_event_log_parser_on_tiny_job(tiny_job):
    m = layers.parse_event_log(tiny_job["log"], *tiny_job["window"])
    assert m["pipeline.extract_tasks"] == 4 * 2
    assert 0 <= m["pipeline.empty_tasks"] < 8
    assert m["spark.scan_stage_s"] > 0
    assert 0 < m["spark.extract_stage_s"] <= tiny_job["window"][1] \
        - tiny_job["window"][0]
    assert m["spark.shuffle_write_mb"] > 0
    assert m["extract.to_python_mb"] > 0
    assert m["extract.from_python_mb"] > 0
    assert m["extract.python_exec_core_s"] > 0
    assert m["spark.task_run_core_s"] >= m["spark.task_cpu_core_s"] > 0
    # a window before the job holds none of its stages
    assert layers.parse_event_log(tiny_job["log"], 0, 1) == {}


def test_check_passes_on_job_output(tiny_job):
    assert check.check_output(tiny_job["root"], tiny_job["expected"],
                              tiny_job["planted"]) == []


def _rewrite_one_row(root: Path, tmp: Path, column: str, value) -> Path:
    """Copy of the warehouse at ``root`` with ``column`` of one row
    that holds another value set to ``value``."""
    copy = tmp / "flipped"
    shutil.copytree(root, copy)
    f = next((copy / "extracted").rglob("*.parquet"))
    table = pq.read_table(f)
    values = table.column(column).to_pylist()
    values[next(i for i, v in enumerate(values) if v != value)] = value
    i = table.schema.get_field_index(column)
    pq.write_table(table.set_column(i, table.field(i),
                                    [values]), f)
    return copy


def test_flipped_text_fails_check(tiny_job, tmp_path):
    copy = _rewrite_one_row(tiny_job["root"], tmp_path, "extracted_text",
                            "flipped")
    problems = check.check_output(copy, tiny_job["expected"],
                                  tiny_job["planted"])
    assert len(problems) == 1 and "extracted_text" in problems[0]


def test_unplanted_error_row_fails_check(tiny_job, tmp_path):
    copy = _rewrite_one_row(tiny_job["root"], tmp_path, "status", "error")
    problems = check.check_output(copy, tiny_job["expected"],
                                  tiny_job["planted"])
    assert any("planted" in p for p in problems)
