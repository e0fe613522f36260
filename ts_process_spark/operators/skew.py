"""Skew handling for grouped Arrow kernels.

AQE's skew-join splitting fixes skewed *joins*, but a skewed
``applyInPandas`` group (one hot conversation with 10⁸ turns) still
lands on one task and can exceed executor memory.  The tool for that:

- ``chunked_apply``: split each group into fixed-size chunks **with
  overlap regions on both sides**, run a sequential kernel per chunk,
  discard the overlap, and reassemble.  For IIR-style kernels
  (filtfilt) the result is not bit-equal to the whole-series run, but
  the error decays with the filter's impulse response — sizing the
  overlap by the reference's own pad rule 1.5·N/fmin samples
  (/root/reference/ts_process/ts_library.py:805-818) keeps it below
  float noise in the passband.  Exactness-checked kernels (tier
  aggregates, codecs) never use chunking — they are associative by
  construction (SURVEY §4.2, §7.4.2).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def chunked_apply(
    df: DataFrame,
    key: str,
    order_col: str,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    chunk_size: int,
    overlap: int,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Apply a per-group sequential kernel in bounded-memory chunks.

    ``fn`` receives one chunk (core rows + up to ``overlap`` rows of
    context on each side) sorted by ``order_col`` and must return the
    same rows transformed; the wrapper discards the context rows after
    the kernel ran, so ``fn`` needs no chunk awareness.
    """
    schema = schema or df.schema
    w = Window.partitionBy(key).orderBy(order_col)
    idx = F.row_number().over(w) - 1
    base = df.withColumn("_idx", idx).withColumn(
        "_chunk", (F.col("_idx") / chunk_size).cast("long")
    )
    core = base.withColumn("_is_core", F.lit(True))
    # context copies: tail of chunk c serves chunk c+1; head serves c-1
    left_ctx = (
        base.where((F.col("_idx") % chunk_size) >= chunk_size - overlap)
        .withColumn("_chunk", F.col("_chunk") + 1)
        .withColumn("_is_core", F.lit(False))
    )
    right_ctx = (
        base.where(((F.col("_idx") % chunk_size) < overlap) & (F.col("_chunk") > 0))
        .withColumn("_chunk", F.col("_chunk") - 1)
        .withColumn("_is_core", F.lit(False))
    )
    allrows = core.unionByName(left_ctx).unionByName(right_ctx)

    out_names = [f.name for f in schema.fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_idx").reset_index(drop=True)
        transformed = fn(pdf.drop(columns=["_chunk", "_is_core"]))
        transformed["_is_core"] = pdf["_is_core"].to_numpy()
        res = transformed[transformed["_is_core"]]
        return res[out_names]

    return allrows.groupBy(key, "_chunk").applyInPandas(run, schema=schema)
