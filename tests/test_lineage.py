"""The lineage table (sources/catalog.py): each run appends ONE parquet
file written from the driver and committed by rename. Its schema is the
one Spark wrote before, so Spark (mergeSchema) and pyarrow readers see
old and new files alike, and a crash's hidden temp file is skipped."""

from __future__ import annotations

import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advanced_text_extraction_spark.operators.extract import EXTRACTOR_VERSION
from advanced_text_extraction_spark.plans.pipeline import run_extract_job
from advanced_text_extraction_spark.sources import catalog

N_BUCKETS = 8

SPARK_SCHEMA = [
    ("part_bucket", T.IntegerType()),
    ("input_rows", T.LongType()),
    ("input_bytes", T.LongType()),
    ("output_rows", T.LongType()),
    ("error_rows", T.LongType()),
    ("wall_ms", T.LongType()),
    ("n_buckets", T.IntegerType()),
    ("extractor_version", T.StringType()),
    ("run_id", T.StringType()),
    ("finished_ts", T.TimestampType()),
]


def _visible(lineage_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(lineage_dir)
                  if not f.startswith((".", "_")))


def _rows(table) -> list[tuple]:
    return sorted(zip(*(table[c] for c in ("part_bucket", "input_rows",
                                           "output_rows", "run_id"))))


@pytest.mark.parametrize("uri", [False, True], ids=["bare", "file-uri"])
def test_one_lineage_file_per_run(spark, transcripts_path, tmp_path, uri):
    base = str(tmp_path / "wh")
    root = f"file://{base}" if uri else base
    df = spark.read.parquet(transcripts_path)
    stats = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert stats.buckets_done

    lin = catalog.lineage_path(base)
    files = _visible(lin)
    assert len(files) == 1 and files[0].endswith(".parquet")
    on_disk = pq.read_table(os.path.join(lin, files[0]))
    assert on_disk.schema.equals(catalog.LINEAGE_SCHEMA)
    assert set(on_disk["run_id"].to_pylist()) == {stats.run_id}
    assert sorted(on_disk["part_bucket"].to_pylist()) == stats.buckets_done

    read = spark.read.parquet(lin)
    assert [(f.name, f.dataType) for f in read.schema] == SPARK_SCHEMA
    pdf = read.toPandas()
    assert _rows({c: pdf[c].tolist() for c in pdf}) == \
        _rows(ds.dataset(lin).to_table().to_pydict())
    assert int(pdf.input_rows.sum()) == stats.input_rows

    # a second run appends exactly one more file
    again = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                            resume=False, only_buckets=stats.buckets_done[:1])
    assert len(_visible(lin)) == 2
    assert {again.run_id, stats.run_id} == set(
        ds.dataset(lin).to_table()["run_id"].to_pylist())


def test_mixed_generation_lineage_and_crash_leftover(spark, transcripts_path,
                                                     tmp_path):
    """A lineage dir holding a file Spark wrote, a driver-written file and
    an orphaned temp file of garbage still drives resume, and pyarrow
    still reads it."""
    root = str(tmp_path / "wh")
    lin = catalog.lineage_path(root)
    df = spark.read.parquet(transcripts_path)
    first = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2,
                            only_buckets=[0, 1, 2])
    assert first.buckets_done
    # the pre-driver-write lineage: a Spark job over local rows
    old = sorted(set(range(N_BUCKETS)) - set(first.buckets_done))[:2]
    (
        spark.createDataFrame(
            [(b, 10, 100, 10, 0, 5) for b in old],
            "part_bucket int, input_rows long, input_bytes long, "
            "output_rows long, error_rows long, wall_ms long")
        .withColumns({
            "n_buckets": F.lit(N_BUCKETS),
            "extractor_version": F.lit(EXTRACTOR_VERSION),
            "run_id": F.lit("run-spark-written"),
            "finished_ts": F.current_timestamp(),
        })
        .write.mode("append").parquet(lin)
    )
    with open(os.path.join(lin, ".part-crashed.parquet.tmp"), "wb") as f:
        f.write(b"\x00 not a parquet file \xff" * 8)

    done = sorted(first.buckets_done + old)
    assert catalog.completed_buckets(spark, root, EXTRACTOR_VERSION,
                                     n_buckets=N_BUCKETS) == done
    rerun = run_extract_job(spark, df, root, n_buckets=N_BUCKETS, salt=2)
    assert sorted(rerun.buckets_skipped) == done
    assert not set(rerun.buckets_done) & set(done)

    table = ds.dataset(lin).to_table()
    assert table.num_rows == len(done) + len(rerun.buckets_done)
    assert set(table["run_id"].to_pylist()) == {
        first.run_id, "run-spark-written", rerun.run_id}
    assert table["finished_ts"].null_count == 0


def test_lineage_append_runs_no_spark_job(spark, transcripts_path, tmp_path,
                                          monkeypatch):
    """Appending lineage must not start a Spark job: a job over local
    rows ships them through a second pool of Python workers."""
    sc = spark.sparkContext
    group = "test-lineage-append"
    seen = []
    append = catalog.append_lineage

    def counted(*args, **kwargs):
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        append(*args, **kwargs)
        seen.append((before,
                     len(sc.statusTracker().getJobIdsForGroup(group))))

    monkeypatch.setattr(catalog, "append_lineage", counted)
    sc.setJobGroup(group, "lineage append")
    try:
        run_extract_job(spark, spark.read.parquet(transcripts_path),
                        str(tmp_path / "wh"), n_buckets=N_BUCKETS, salt=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(seen) == 1
    before, after = seen[0]
    assert before > 0  # the extraction's own jobs are in the group
    assert after == before
