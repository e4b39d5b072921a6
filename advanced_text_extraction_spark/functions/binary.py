"""Binary-ingest column functions — the Arrow-batched siblings of
functions/text.py for ``binary``-typed payload columns (SURVEY §2.8 F3).

The engine's table contract carries already-decoded strings
(BASELINE.json:input_hint), so these sit UPSTREAM of the extraction
pipeline: raw-bytes ingest (e.g. crawled files landed as binary) runs
``with_decoded_text`` once, then everything downstream is the normal
string path. Detection is per-row byte inspection (kernels/encoding.py)
— map-only, no shuffle, scales with the scan like every other kernel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels.encoding import decode_bytes
from ..worker import bootstrap_worker

_DECODED_SCHEMA = T.StructType([
    T.StructField("text", T.StringType(), False),
    T.StructField("encoding", T.StringType(), False),
    T.StructField("encoding_confidence", T.DoubleType(), False),
])


@pandas_udf(_DECODED_SCHEMA)
def _decode_udf(raw: pd.Series) -> pd.DataFrame:
    bootstrap_worker()
    rows = [decode_bytes(b) for b in raw]
    return pd.DataFrame(
        rows, columns=["text", "encoding", "encoding_confidence"])


def decoded_struct(col) -> Column:
    """struct(text, encoding, encoding_confidence) from a binary column."""
    return _decode_udf(col)


def with_decoded_text(df: DataFrame, bytes_col: str = "raw",
                      drop_bytes: bool = True) -> DataFrame:
    """Attach decoded ``text`` / ``encoding`` / ``encoding_confidence``
    columns to a binary-payload frame (reference detect-then-read,
    /root/reference/text_extractor.py:933-938, as one fused pass —
    the reference reads the file twice; bytes here are already in the
    row). ``drop_bytes`` defaults True: once decoded, re-storing raw
    payloads doubles every downstream scan at corpus scale."""
    out = df.withColumn("_dec", decoded_struct(F.col(bytes_col))) \
            .select("*", "_dec.text", "_dec.encoding",
                    "_dec.encoding_confidence") \
            .drop("_dec")
    return out.drop(bytes_col) if drop_bytes else out
