"""Chunk+overlap kernel execution: bounded-memory chunks of a hot group
approximate the whole-series kernel within float noise when the overlap
is sized by the reference pad rule (ts_library.py:805-818)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_process_spark.datagen import gen_signal_pdf, signals
from ts_process_spark.functions import dsp
from ts_process_spark.operators.skew import chunked_apply


def test_chunked_filter_close_to_whole_series(spark):
    n = 4096
    df = signals(spark, cases=["lowpass"], n=n)
    h1 = df.where(F.col("series_id") == "lowpass-h1")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        out["acc"] = dsp.filter_data(
            pdf["acc"].to_numpy(np.float64), 0.01, "lowpass", fmax=5.0
        )
        return out

    got = chunked_apply(
        h1, key="series_id", order_col="i", fn=kern, chunk_size=1024, overlap=300
    )
    got_arr = np.array(
        [r["acc"] for r in got.orderBy("i").collect()]
    )
    exp = dsp.filter_data(
        gen_signal_pdf("lowpass", "h1", n=n)["acc"].to_numpy(), 0.01, "lowpass",
        fmax=5.0,
    )
    assert len(got_arr) == n
    scale = np.max(np.abs(exp))
    assert np.max(np.abs(got_arr - exp)) / scale < 1e-6


def test_chunked_apply_preserves_rows(spark):
    df = signals(spark, cases=["lowpass"], n=512)

    def ident(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    got = chunked_apply(
        df, key="series_id", order_col="i", fn=ident, chunk_size=100, overlap=20
    )
    assert got.count() == df.count()
    # exactly one copy of every (series, i)
    dup = got.groupBy("series_id", "i").count().where(F.col("count") > 1).count()
    assert dup == 0


def test_filter_signals_auto_chunks_oversized_groups(spark):
    """filter_signals must route series past chunk_threshold through
    chunk+overlap AUTOMATICALLY (round-2 VERDICT #4) and agree with the
    unchunked kernel to float noise in every core sample, while small
    series in the same call stay on the whole-series path bit-exactly."""
    from ts_process_spark.operators import analytics

    n_big, n_small = 32768, 512
    big = gen_signal_pdf("lowpass", "h1", n=n_big)
    small = gen_signal_pdf("lowpass", "h2", n=n_small)
    df = spark.createDataFrame(pd.concat([big, small], ignore_index=True))

    got = analytics.filter_signals(
        df, "bandpass", fmin=0.2, fmax=8.0,
        chunk_threshold=8192, chunk_size=8192, chunk_overlap=4096,
        cols=("acc",),
    )
    out = {
        sid: g.sort_values("i")["acc"].to_numpy()
        for sid, g in got.toPandas().groupby("series_id")
    }
    assert len(out["lowpass-h1"]) == n_big
    assert len(out["lowpass-h2"]) == n_small

    def ref(pdf, n):
        x, pad = dsp.pad_for_highpass(
            pdf["acc"].to_numpy(np.float64), 0.01, 0.2, 4
        )
        return dsp.filter_data(x, 0.01, "bandpass", fmin=0.2, fmax=8.0)[
            pad : pad + n
        ]

    exp_big = ref(big, n_big)
    scale = np.max(np.abs(exp_big))
    assert np.max(np.abs(out["lowpass-h1"] - exp_big)) / scale < 1e-9
    # small series took the unchunked path — bit-equal
    assert np.array_equal(out["lowpass-h2"], ref(small, n_small))
