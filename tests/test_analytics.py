"""Distributed analytics transforms == local NumPy kernels, exactly.

The dsp kernels are property-tested in test_dsp.py; here the check is
that the Spark plumbing (grouping, ordering, pivoting, fan-out) applies
them to the right rows in the right order — results must be
bit-identical to applying the kernel locally per series."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_process_spark.datagen import gen_signal_pdf, signals
from ts_process_spark.functions import dsp
from ts_process_spark.operators import analytics

N = 1024


@pytest.fixture(scope="module")
def sig_df(spark):
    return signals(spark, cases=["lowpass", "rotate30"], n=N).cache()


@pytest.fixture(scope="module")
def sig_pdf():
    return {
        (case, comp): gen_signal_pdf(case, comp, n=N)
        for case in ("lowpass", "rotate30")
        for comp in ("h1", "h2", "ver")
    }


def _series(df, sid, col):
    return np.array(
        [r[col] for r in df.where(F.col("series_id") == sid).orderBy("i").collect()]
    )


def test_filter_signals_matches_kernel(sig_df, sig_pdf):
    out = analytics.filter_signals(sig_df, "lowpass", fmax=5.0)
    got = _series(out, "lowpass-h1", "acc")
    exp = dsp.filter_data(
        sig_pdf[("lowpass", "h1")]["acc"].to_numpy(), 0.01, "lowpass", fmax=5.0
    )
    np.testing.assert_array_equal(got, exp)


def test_highpass_pad_and_trim(sig_df, sig_pdf):
    out = analytics.filter_signals(sig_df, "highpass", fmin=0.5)
    got = _series(out, "lowpass-h2", "vel")
    x = sig_pdf[("lowpass", "h2")]["vel"].to_numpy()
    xp, pad = dsp.pad_for_highpass(x, 0.01, 0.5, 4)
    exp = dsp.filter_data(xp, 0.01, "highpass", fmin=0.5)[pad : pad + N]
    np.testing.assert_array_equal(got, exp)
    assert len(got) == N  # grid preserved


def test_integrate_matches_kernel(sig_df, sig_pdf):
    out = analytics.integrate_signals(sig_df, col="vel", out="integral")
    got = _series(out, "lowpass-ver", "integral")
    exp = dsp.integrate(sig_pdf[("lowpass", "ver")]["vel"].to_numpy(), 0.01)
    np.testing.assert_array_equal(got, exp)


def test_resample_decimate(sig_df, sig_pdf):
    out = analytics.resample_signals(sig_df, 0.02)
    got = _series(out, "lowpass-h1", "acc")
    exp = dsp.resample(sig_pdf[("lowpass", "h1")]["acc"].to_numpy(), 0.01, 0.02)
    np.testing.assert_array_equal(got, exp)
    assert out.where(F.col("series_id") == "lowpass-h1").agg(
        F.max("dt")
    ).first()[0] == 0.02


def test_rotate_station(sig_df, sig_pdf):
    out = analytics.rotate_station(sig_df, 30.0)
    got_h1 = _series(out, "rotate30-h1", "acc")
    got_h2 = _series(out, "rotate30-h2", "acc")
    exp_h1, exp_h2 = dsp.rotate_pair(
        sig_pdf[("rotate30", "h1")]["acc"].to_numpy(),
        sig_pdf[("rotate30", "h2")]["acc"].to_numpy(),
        30.0,
    )
    np.testing.assert_array_equal(got_h1, exp_h1)
    np.testing.assert_array_equal(got_h2, exp_h2)
    oris = dict(
        out.where(F.col("series_id").startswith("rotate30"))
        .select("series_id", "orientation_deg")
        .distinct()
        .collect()
    )
    assert oris["rotate30-h1"] == 330.0 and oris["rotate30-h2"] == 60.0
    # vertical untouched
    np.testing.assert_array_equal(
        _series(out, "rotate30-ver", "acc"),
        sig_pdf[("rotate30", "ver")]["acc"].to_numpy(),
    )


def test_response_spectrum_matches_kernel(sig_df, sig_pdf):
    periods = [0.2, 1.0]
    out = analytics.response_spectrum(
        sig_df.where(F.col("series_id") == "lowpass-h1"), periods=periods
    )
    got = {r["period"]: r["psa"] for r in out.collect()}
    acc = sig_pdf[("lowpass", "h1")]["acc"].to_numpy()
    for p in periods:
        rsp = dsp.oscillator_response(acc, 2 * np.pi / p, 0.05, 0.01)
        assert got[p] == dsp.calc_sa(rsp)


def test_rotd50_matches_kernel(sig_df, sig_pdf):
    periods = [0.3, 1.5]
    out = analytics.rotd50_stations(
        sig_df.where(F.col("series_id").startswith("rotate30")), periods=periods
    )
    rows = {r["period"]: r for r in out.collect()}
    psa1, psa2, rd = dsp.rotd50(
        sig_pdf[("rotate30", "h1")]["acc"].to_numpy(),
        sig_pdf[("rotate30", "h2")]["acc"].to_numpy(),
        0.01,
        periods=np.array(periods),
    )
    for i, p in enumerate(periods):
        assert rows[p]["psa_h1"] == psa1[i]
        assert rows[p]["psa_h2"] == psa2[i]
        assert rows[p]["rotd50"] == rd[i]


def test_fas_matches_kernel(sig_df, sig_pdf):
    out = analytics.fas_signals(
        sig_df.where(F.col("series_id") == "lowpass-h1"), fmin=0.5, fmax=10.0
    )
    rows = out.orderBy("freq").collect()
    acc = sig_pdf[("lowpass", "h1")]["acc"].to_numpy()
    freq, amp = dsp.fas(acc, 0.01, dsp.get_points(N), 0.5, 10.0)
    np.testing.assert_array_equal([r["freq"] for r in rows], freq)
    np.testing.assert_array_equal([r["amplitude"] for r in rows], amp)


def test_baseline_signals_matches_kernel(sig_df, sig_pdf):
    out = analytics.baseline_signals(
        sig_df.where(F.col("series_id") == "lowpass-h1"), order=5
    )
    got = _series(out, "lowpass-h1", "dis")
    _, _, _, dmod = dsp.baseline_correction(
        sig_pdf[("lowpass", "h1")]["acc"].to_numpy(), 0.01, 1.0, 5
    )
    np.testing.assert_array_equal(got, dmod)


def test_process_signals_dt_matches_kernel_composition(spark, sig_df, sig_pdf):
    """The fused pipeline stage == interp → tukey → lowpass applied
    locally, bit-identically (process_timeseries_dt order,
    ts_library.py:992-1043)."""
    got = (
        analytics.process_signals_dt(sig_df, new_dt=0.02, fmax=5.0, taper=64)
        .toPandas()
        .sort_values(["series_id", "i"])
    )
    for (case, comp), pdf in sig_pdf.items():
        sid = f"{case}-{comp}"
        g = got[got.series_id == sid]
        old_dt = float(pdf["dt"].iloc[0])
        want = {}
        for c in ("acc", "vel", "dis"):
            x = dsp.resample(pdf[c].to_numpy(np.float64), old_dt, 0.02)
            want[c] = x
        n = min(len(v) for v in want.values())
        w = dsp.tukey(n, 64.0 / n)
        for c in want:
            want[c] = dsp.filter_data(want[c][:n] * w, 0.02, "lowpass", fmax=5.0, N=4)
        assert len(g) == n
        for c in ("acc", "vel", "dis"):
            np.testing.assert_array_equal(g[c].to_numpy(), want[c])
    assert (got["dt"] == 0.02).all()


def test_synchronize_stations_matches_reference_order(spark):
    """3 stations, obs stamped between sim start and eq time: obs is
    front-padded, everyone end-cut to the min common duration, and the
    result is bit-identical to applying the reference's op order
    (process_timeseries.py:45-141) locally."""
    from ts_process_spark.datagen import SIGNAL_SCHEMA

    dt = 0.01
    lens = {"sta": 1000, "stb": 950, "stc": 980}
    pdfs = {}
    for k, (st, n) in enumerate(lens.items()):
        rng = np.random.default_rng(100 + k)
        for comp, deg in (("h1", 0.0), ("h2", 90.0), ("ver", None)):
            pdfs[(st, comp)] = pd.DataFrame(
                {
                    "series_id": f"{st}-{comp}",
                    "component": comp,
                    "orientation_deg": np.nan if deg is None else deg,
                    "i": np.arange(n, dtype=np.int32),
                    "dt": dt,
                    "acc": rng.normal(0, 1, n),
                    "vel": rng.normal(0, 1, n),
                    "dis": rng.normal(0, 1, n),
                }
            )
    df = spark.createDataFrame(pd.concat(pdfs.values(), ignore_index=True),
                               SIGNAL_SCHEMA)
    got = (
        analytics.synchronize_stations(
            df, obs_station="sta", stamp_s=5.0, eq_time_s=6.0, leading=2.0
        )
        .toPandas()
        .sort_values(["series_id", "i"])
    )
    # everyone ends up the same length
    counts = got.groupby("series_id")["i"].count()
    assert set(counts) == {950}, counts

    # local oracle in the reference's exact op order
    m = 20
    for (st, comp), pdf in pdfs.items():
        want = {c: pdf[c].to_numpy() for c in ("acc", "vel", "dis")}
        if st == "sta":  # sim_start(4) < stamp(5) < eq(6): pad front 100
            want = {c: dsp.pad_zeros_with_taper(v, 100, "front", m)
                    for c, v in want.items()}
        # target duration = min(11.0, 9.5, 9.8) = 9.5s
        excess = len(want["acc"]) * dt - 9.5
        num = int(round(excess / dt)) if excess > 1e-12 else 0
        num = int(excess / dt + 1e-9)
        if num > 0:
            want = {c: dsp.cut_with_taper(v, num, "end", m)
                    for c, v in want.items()}
        g = got[got.series_id == f"{st}-{comp}"]
        for c in ("acc", "vel", "dis"):
            np.testing.assert_array_equal(g[c].to_numpy(), want[c],
                                          err_msg=f"{st}-{comp}:{c}")


def test_synchronization_plan_df_matches_dict_plan(spark):
    """The distributed plan DataFrame is bit-identical to the driver
    dict plan across all three obs-stamp branches + the one-sample
    repair (round-3 VERDICT ask #7)."""
    info = {"sta": (0.01, 1000), "stb": (0.02, 480), "stc": (0.01, 961)}
    cases = [
        dict(obs_station="sta", stamp_s=5.0, eq_time_s=6.0, leading=2.0),
        dict(obs_station="sta", stamp_s=3.0, eq_time_s=6.0, leading=2.0),
        dict(obs_station="sta", stamp_s=7.0, eq_time_s=6.0, leading=2.0),
        dict(obs_station=None, stamp_s=None),
        dict(obs_station="stb", stamp_s=7.5, eq_time_s=6.0, leading=2.0),
    ]
    per = spark.createDataFrame(
        [(s, d, n) for s, (d, n) in info.items()], "station string, dt double, n long"
    )
    for kw in cases:
        want = analytics.plan_synchronization(info, **dict(
            {"eq_time_s": 0.0, "leading": 0.0}, **kw
        ))
        got_rows = analytics.synchronization_plan_df(per, **kw).collect()
        got = {
            r["station"]: [(o["op"], o["num"]) for o in r["ops"]]
            for r in got_rows
        }
        assert got == want, (kw, got, want)
