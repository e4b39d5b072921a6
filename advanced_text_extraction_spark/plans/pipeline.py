"""The flagship extraction job (SURVEY.md §4.3 physical plan).

    scan(transcripts)                         [column-pruned parquet scan]
      → part_bucket = pmod(xxhash64(conv_id), n_buckets)
      → resume skip of completed buckets      [J1 — lineage probe]
      → Exchange(hash: part_bucket, salt)     [C4 — width sized from the
                                               input; co-locates
                                               (conv_id, turn_idx) copies]
      → mapInPandas(dedupe + extract)         [U1 folded into the kernel —
                                               partition-local seen-set,
                                               exact because copies are
                                               co-located; Arrow-vectorized]
      → sortWithinPartitions(conv_id, turn)   [W3 — stable order, no global sort]
      → overwrite extracted/ per bucket
    then, on the driver: append ONE lineage/ file per run (no Spark job)

Scale design notes (10^12 turns, 1000 executors):
- The ONLY shuffle is the salted repartition; everything else is
  narrow. No collect of data rows ever happens (lineage bucket ids are
  O(n_buckets) — metadata, not data).
- Exchange width follows the input: one task per TASK_TARGET_BYTES of
  scan, in whole waves of defaultParallelism tasks, at most
  n_buckets × salt. Every Python task pays a fixed start-up on top of
  its kernels, so a small input must not fan out to n_buckets × salt
  mostly-empty tasks.
- Salting is skew insurance only: a conversation with 10^9 turns would
  pin one task if we partitioned by conv_id alone; hashing
  (part_bucket, salt(turn_idx)) spreads one bucket over up to salt
  tasks once the input is large enough to fill them (reference has no
  analog — its ThreadPoolExecutor fans out per file,
  text_extractor.py:962-1000).
- Lineage granularity = bucket; failed/killed runs redo only missing
  buckets, and the dynamic partition overwrite makes redo idempotent
  (no dupes on retry) — the reference's md5 cache-hit short-circuit
  (text_extractor.py:842-847) lifted to partition granularity. The
  exchange width never enters the bucket keying or the output layout.
- Writes are per-bucket parquet dirs → on Iceberg, per-partition
  commits; bucket count scales with cluster size, not data size.
- Lineage is one driver-side parquet file per run (≤ n_buckets rows
  already on the driver), committed by rename — on Iceberg, one metadata
  commit. Writing it through Spark would run a job whose local rows ship
  through a second pool of Python workers.
"""

from __future__ import annotations

import functools
import math
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import (
    EXTRACTOR_VERSION,
    extract,
    new_stats_accumulator,
)
from ..sources import catalog

DEFAULT_N_BUCKETS = 32
DEFAULT_SALT = 4
# Scan bytes one extract task should receive. Each Python task pays a
# fixed start-up (worker init, Arrow framing) on top of its kernels, so
# fewer, larger tasks cost less; but all of a task's rows pass through
# one Python worker, whose peak memory grows with the task. On a 4-core
# host 512 KiB gives 5k chat turns (1.5 MB of parquet) one task per
# core, and ~270 large documents (7 MB) four tasks per core.
TASK_TARGET_BYTES = 512 * 1024


@dataclass
class RunStats:
    """Per-run lineage summary.

    ``input_rows`` (and the per-bucket stats it is summed from) comes from
    a Spark accumulator updated inside the extraction *transformation*, and
    accumulator updates in transformations are AT-LEAST-ONCE: a retried or
    speculatively re-executed task adds its batch counts again. The written
    rows and the parquet-footer row counts stay exact (dynamic-partition
    overwrite commits one task attempt per partition); only these advisory
    throughput/lineage stats can over-count. On hosts with bursty CPU steal
    (which triggers speculation) either disable speculation for the extract
    stage or read exact counts from the lineage table's footer-derived
    columns instead."""
    run_id: str
    buckets_done: list[int]
    buckets_skipped: list[int]
    input_rows: int
    wall_sec: float
    extract_tasks: int  # width of the salted exchange (exchange_width)


def prepare(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """Deterministic bucket assignment (partition scheme).

    U1 dedupe is NOT a separate pass: the salted repartition co-locates
    all copies of a (conv_id, turn_idx) key, so the extraction kernel
    drops duplicates partition-locally (extract(dedupe_keys=...)) —
    saving the dropDuplicates aggregate and its exchange."""
    return df.withColumn(
        "part_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
    )


def exchange_width(df: DataFrame, n_buckets: int, salt: int) -> int:
    """Partition count of the salted exchange for the input ``df``:
    ``ceil(bytes / TASK_TARGET_BYTES)`` rounded up to whole waves of
    ``defaultParallelism`` tasks, then clamped to
    ``[defaultParallelism, n_buckets × salt]``, the cap winning.

    ``bytes`` is Catalyst's size estimate of ``df``'s optimized plan (the
    file sizes for a parquet scan); a source with no estimate reports
    Long.MaxValue and gets the cap. The width is an explicit partition
    count because AQE never coalesces a repartition by number, while a
    column-only repartition can be coalesced down to a single task."""
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))
    floor = df.sparkSession.sparkContext.defaultParallelism
    tasks = math.ceil(size / TASK_TARGET_BYTES / floor) * floor
    return min(n_buckets * salt, max(floor, tasks))


def salted_repartition(df: DataFrame, n_buckets: int, salt: int,
                       width: int | None = None) -> DataFrame:
    """C4 — hash exchange in front of the extraction UDF.

    Hashes on (part_bucket, salt(turn_idx)) into ``width`` partitions
    (default :func:`exchange_width`, which follows the input size). All
    copies of a (conv_id, turn_idx) key share both hash columns, so they
    land in one partition at any width and the folded dedupe stays exact.
    Salt is skew insurance: a bucket's rows can spread over up to
    ``salt`` tasks once the input is large enough to fill them. Order is
    restored after the UDF (W3), so the shuffle is free to optimize for
    evenness."""
    return df.repartition(
        width or exchange_width(df, n_buckets, salt),
        "part_bucket",
        F.pmod(F.xxhash64("turn_idx"), F.lit(salt)),
    )


def run_extract_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    salt: int = DEFAULT_SALT,
    resume: bool = True,
    only_buckets: list[int] | None = None,
    ocr_fallback_engine: str | None = "auto",
    ocr_preprocess: bool = True,
    ocr_confidence_threshold: float = 0.0,
    max_payload_chars: int | None = None,
) -> RunStats:
    """End-to-end extraction with lineage + idempotent resume.

    ``only_buckets`` restricts the run (test hook simulating a job killed
    after completing a subset of partitions — FIXTURES.md §3 resume test).
    """
    t0 = time.time()
    run_id = f"run-{int(t0 * 1000):x}"

    df = prepare(transcripts, n_buckets)

    skipped: list[int] = []
    if resume:
        skipped = catalog.completed_buckets(spark, out_root,
                                            EXTRACTOR_VERSION, n_buckets)
        if skipped:
            # metadata-level partition pruning — cheaper than an anti-join
            df = df.filter(~F.col("part_bucket").isin(skipped))
    if only_buckets is not None:
        df = df.filter(F.col("part_bucket").isin(only_buckets))

    width = exchange_width(df, n_buckets, salt)
    df = salted_repartition(df, n_buckets, salt, width)
    # the sort leads with part_bucket so FileFormatWriter's required
    # ordering (partition columns first) is already satisfied — otherwise
    # the writer inserts its own part_bucket-only sort, which is not
    # stable and would scramble the (conv_id, turn_idx) order
    stats_acc = new_stats_accumulator(spark)
    # the raw payload is NOT part of the output contract (SURVEY §1.2
    # `extracted` schema) — carrying `text` through the write would
    # re-store the whole input corpus: double the parquet encode CPU and
    # write volume for a column every consumer already has upstream
    from ..operators.extract import MAX_PAYLOAD_CHARS
    ocr = None
    if ocr_fallback_engine is not None:
        # imported only for a job that OCRs: kernels.ocr stays off the
        # import path of fallback-free jobs on driver and workers alike
        from ..operators.ocr import pdf_ocr_fallback
        ocr = functools.partial(
            pdf_ocr_fallback, engine=ocr_fallback_engine,
            preprocess=ocr_preprocess,
            confidence_threshold=ocr_confidence_threshold)
    extracted = extract(df, dedupe_keys=("conv_id", "turn_idx"),
                        stats_acc=stats_acc, ocr=ocr,
                        max_payload_chars=(max_payload_chars
                                           or MAX_PAYLOAD_CHARS)) \
        .drop("text") \
        .sortWithinPartitions("part_bucket", "conv_id", "turn_idx")
    catalog.write_extracted(extracted, out_root)

    # Lineage WITHOUT a second scan of the output (VERDICT r1 #4):
    # per-bucket bytes/errors/kernel-wall come from the extraction pass
    # itself (accumulator side output), authoritative row counts from the
    # parquet footers of the files just written — driver-side metadata,
    # O(n_files), vs. the previous read-back which re-scanned every
    # written row (a second full pass of the output per run at 100 TB).
    acc = stats_acc.value
    footer_rows = catalog.bucket_row_counts(out_root, set(acc)) \
        if acc else {}
    lineage_rows = [
        (b, int(rows_in), int(raw_bytes), int(footer_rows.get(b, kept)),
         int(errors), int(wall_us // 1000))
        for b, (rows_in, kept, raw_bytes, errors, wall_us)
        in sorted(acc.items())
    ]
    if lineage_rows:
        # n_buckets keys the resume probe: buckets computed under a
        # DIFFERENT bucketing are semantically unrelated partitions and
        # must not be skipped (pmod(h,8) != pmod(h,32))
        run_cols = (n_buckets, EXTRACTOR_VERSION, run_id,
                    datetime.now(timezone.utc))
        names = catalog.LINEAGE_SCHEMA.names
        lineage = pa.Table.from_pylist(
            [dict(zip(names, r + run_cols)) for r in lineage_rows],
            catalog.LINEAGE_SCHEMA)
        catalog.append_lineage(spark, lineage, out_root)
    return RunStats(run_id, [r[0] for r in lineage_rows], skipped,
                    sum(r[1] for r in lineage_rows), time.time() - t0,
                    width)
