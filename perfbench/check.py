"""Output check, read back without Spark.

A job's warehouse is read with pyarrow alone, so a fault in Spark's own
reader cannot hide a fault in what Spark wrote.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

OUTPUT_COLS = ["conv_id", "turn_idx", "content_type", "extracted_text",
               "status", "proc_us"]
COMPARED = ["content_type", "extracted_text", "status"]


def read_extracted(out_root: Path) -> pd.DataFrame:
    return ds.dataset(out_root / "extracted", format="parquet",
                      partitioning="hive").to_table(
        columns=OUTPUT_COLS).to_pandas()


def read_lineage(out_root: Path) -> pd.DataFrame:
    return ds.dataset(out_root / "lineage", format="parquet").to_table(
        columns=["part_bucket", "input_rows", "output_rows",
                 "error_rows"]).to_pandas()


def footer_rows(out_root: Path) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in (out_root / "extracted").rglob("*.parquet"))


def check_output(out_root: Path, expected: pd.DataFrame,
                 planted: set[tuple[str, int]]) -> list[str]:
    """Problems found in the job output under ``out_root``; empty when it
    matches the oracle. ``expected`` holds one oracle row per distinct
    input key; ``planted`` the keys of payloads generated malformed."""
    out = read_extracted(out_root)
    problems = []
    n_keys = len(out[["conv_id", "turn_idx"]].drop_duplicates())
    if n_keys != len(out):
        problems.append(f"{len(out) - n_keys} duplicate output keys")
    merged = out.merge(expected, on=["conv_id", "turn_idx"], how="outer",
                       suffixes=("", "_oracle"), indicator=True)
    missing = int((merged["_merge"] == "right_only").sum())
    extra = int((merged["_merge"] == "left_only").sum())
    if missing or extra:
        problems.append(f"output keys differ from input keys: "
                        f"{missing} missing, {extra} unexpected")
    both = merged[merged["_merge"] == "both"]
    for col in COMPARED:
        bad = both[both[col] != both[col + "_oracle"]]
        if len(bad):
            k = bad.iloc[0]
            problems.append(f"{len(bad)} rows differ from the oracle in "
                            f"{col}, first ({k.conv_id}, {k.turn_idx})")
    errors = set(zip(out.loc[out["status"] == "error", "conv_id"],
                     out.loc[out["status"] == "error", "turn_idx"]
                     .astype(int)))
    if errors != planted:
        problems.append(f"error rows {sorted(errors ^ planted)[:5]} "
                        f"differ from the planted malformed payloads")
    lineage_rows = int(read_lineage(out_root)["output_rows"].sum())
    on_disk = footer_rows(out_root)
    if lineage_rows != on_disk:
        problems.append(f"lineage output_rows {lineage_rows} != "
                        f"footer rows {on_disk}")
    return problems
