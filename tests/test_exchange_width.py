"""The salted exchange's width follows the input (plans/pipeline.py):
``ceil(bytes / TASK_TARGET_BYTES)`` clamped to
``[defaultParallelism, n_buckets × salt]``. A narrower exchange must keep
the folded dedupe exact, the lineage counts true and resume working."""

from __future__ import annotations

import json
import random

import pandas as pd
import pytest

from advanced_text_extraction_spark.plans import pipeline
from advanced_text_extraction_spark.plans.pipeline import (
    RunStats,
    exchange_width,
    prepare,
    run_extract_job,
)
from advanced_text_extraction_spark.sources import catalog


def _keys(df: pd.DataFrame) -> set[tuple[str, int]]:
    return set(zip(df["conv_id"], df["turn_idx"].astype(int)))


def test_small_input_gets_default_parallelism(spark, transcripts_path,
                                              tmp_path):
    df = spark.read.parquet(transcripts_path)
    floor = spark.sparkContext.defaultParallelism
    assert exchange_width(prepare(df, 8), 8, 4) == floor < 8 * 4
    stats = run_extract_job(spark, df, str(tmp_path / "wh"),
                            n_buckets=8, salt=4)
    assert stats.extract_tasks == floor


def test_width_never_exceeds_buckets_times_salt(spark, transcripts_path,
                                                monkeypatch):
    df = prepare(spark.read.parquet(transcripts_path), 8)
    # one task per byte asks for far more tasks than there are hash keys
    monkeypatch.setattr(pipeline, "TASK_TARGET_BYTES", 1)
    assert exchange_width(df, 8, 4) == 8 * 4
    # the cap wins over the defaultParallelism floor
    assert spark.sparkContext.defaultParallelism > 2 * 2
    assert exchange_width(df, 2, 2) == 2 * 2
    # a source without a size estimate gets the cap, not an overflow
    rdd_df = prepare(spark.createDataFrame(
        spark.sparkContext.parallelize([("c", 0, "x")]),
        "conv_id string, turn_idx int, text string"), 8)
    monkeypatch.setattr(pipeline, "TASK_TARGET_BYTES", 512 * 1024)
    assert exchange_width(rdd_df, 8, 4) == 8 * 4


@pytest.fixture
def small_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    yield
    spark.conf.set(key, old)


def test_dedupe_exact_below_full_width(spark, tmp_path, small_arrow_batches):
    """Replayed duplicates land in later Arrow batches than their first
    copy, and conv-0 holds most of the turns; with fewer partitions than
    hash keys every copy must still meet its first copy in one task."""
    rng = random.Random(3)
    rows = [{"conv_id": "conv-0", "turn_idx": t, "text": f"skewed turn {t}"}
            for t in range(400)]
    rows += [{"conv_id": f"conv-{c}", "turn_idx": t,
              "text": f"conversation {c} turn {t}"}
             for c in range(1, 40) for t in range(5)]
    replays = rng.sample(rows, 120)
    pdf = pd.DataFrame(rows + replays)  # replays after every first copy
    path = str(tmp_path / "in.parquet")
    pdf.to_parquet(path, index=False)

    root = str(tmp_path / "wh")
    stats = run_extract_job(spark, spark.read.parquet(path), root,
                            n_buckets=8, salt=4)
    assert stats.extract_tasks < 8 * 4
    assert stats.input_rows == len(pdf)  # lineage counts pre-dedupe
    out = catalog.read_extracted(spark, root) \
        .select("conv_id", "turn_idx").toPandas()
    assert len(out) == len(rows)
    assert _keys(out) == _keys(pdf)


def test_resume_skips_completed_buckets_at_input_width(spark,
                                                       transcripts_path,
                                                       tmp_path):
    df = spark.read.parquet(transcripts_path)
    root = str(tmp_path / "wh")
    first = run_extract_job(spark, df, root, n_buckets=8, salt=4,
                            only_buckets=[0, 1, 2])
    second = run_extract_job(spark, df, root, n_buckets=8, salt=4)
    assert first.buckets_done and sorted(second.buckets_skipped) \
        == sorted(first.buckets_done)
    assert not set(second.buckets_done) & set(first.buckets_done)
    assert second.extract_tasks == spark.sparkContext.defaultParallelism
    out = catalog.read_extracted(spark, root) \
        .select("conv_id", "turn_idx").toPandas()
    assert len(out) == len(_keys(out)) == \
        df.dropDuplicates(["conv_id", "turn_idx"]).count()


def test_run_summary_reports_exchange_width(monkeypatch, capsys):
    import advanced_text_extraction_spark.sources.session as session
    import scripts.run_extract as run_extract

    class _Spark:
        class read:
            @staticmethod
            def parquet(path):
                return "df"

        def stop(self):
            pass

    monkeypatch.setattr(pipeline, "run_extract_job", lambda *a, **kw:
                        RunStats("r", [0], [], 10, 2.0, extract_tasks=4))
    monkeypatch.setattr(session, "build_session", lambda **kw: _Spark())
    assert run_extract.main(["--input", "in"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["extract_tasks"] == 4
