"""Property tests for the pure-NumPy DSP kernel library (the reference
formula surface, re-derived — see functions/dsp.py citations)."""

from __future__ import annotations

import numpy as np
import pytest

from ts_process_spark.functions import dsp


def _freqz(sos, w):
    z = np.exp(1j * np.asarray(w))
    h = np.ones_like(z, dtype=complex)
    for s in sos:
        b0, b1, b2, _, a1, a2 = s
        h *= (b0 + b1 / z + b2 / z**2) / (1.0 + a1 / z + a2 / z**2)
    return h


def test_butter_magnitude_response():
    for btype, Wn, probe in [
        ("lowpass", 0.25, 0.25 * np.pi),
        ("highpass", 0.1, 0.1 * np.pi),
    ]:
        sos = dsp.butter_sos(4, Wn, btype)
        # -3 dB at the corner, flat far side
        assert abs(abs(_freqz(sos, [probe])[0]) - 2 ** -0.5) < 1e-6
    sos = dsp.butter_sos(4, [0.1, 0.4], "bandpass")
    assert abs(abs(_freqz(sos, [0.2 * np.pi])[0]) - 1.0) < 1e-3
    for edge in (0.1, 0.4):
        assert abs(abs(_freqz(sos, [edge * np.pi])[0]) - 2 ** -0.5) < 1e-6


def test_cheby1_ripple():
    sos = dsp.cheby1_sos(8, 0.05, 0.4)
    eps = np.sqrt(10 ** 0.005 - 1.0)
    H = np.abs(_freqz(sos, np.linspace(1e-4, 0.4 * np.pi, 200)))
    assert H.max() <= 1.0 + 1e-9
    assert H.min() >= 1.0 / np.sqrt(1 + eps**2) - 1e-9
    assert abs(_freqz(sos, [0.7 * np.pi])[0]) < 1e-3


def test_filtfilt_zero_phase_and_attenuation():
    dt = 0.01
    t = np.arange(2048) * dt
    passband = np.sin(2 * np.pi * 1.0 * t)
    y = dsp.filter_data(passband, dt, "lowpass", fmax=5.0)
    assert np.max(np.abs(y - passband)[100:-100]) < 1e-4  # no phase shift
    stopband = np.sin(2 * np.pi * 20.0 * t)
    y2 = dsp.filter_data(stopband, dt, "lowpass", fmax=5.0)
    assert np.max(np.abs(y2[100:-100])) < 1e-4


def test_integrate_derivative_roundtrip():
    dt = 0.01
    t = np.arange(1000) * dt
    v = np.sin(2 * np.pi * 2 * t)
    d = dsp.integrate(v, dt)
    # analytic integral of sin: (1-cos)/w
    w = 2 * np.pi * 2
    assert np.max(np.abs(d - (1 - np.cos(w * t)) / w)) < 1e-3
    # derivative(integral) recovers midpoint-ish values of v
    back = dsp.derivative(d, dt)
    assert np.max(np.abs(back[2:] - v[1:-1])) < 0.1
    # reference boundary conventions
    assert d[0] == v[0] * dt / 2.0
    assert back[0] == d[0] / dt


def test_smooth_is_sequential_recurrence():
    x = np.arange(8.0) ** 2
    s = dsp.smooth(x, 3)
    # first element untouched; second uses original x[0]
    assert s[0] == 0.0
    assert s[1] == pytest.approx(0.5 * 1 + 0.25 * 0 + 0.25 * 4)
    # third uses SMOOTHED left neighbor (in-place semantics)
    assert s[2] == pytest.approx(0.5 * 4 + 0.25 * s[1] + 0.25 * 9)


def test_taper_window_shapes():
    w = dsp.taper_window("all", 50, 500)
    assert w.size == 500 and w[250] == 1.0 and w[0] < 1e-4 and w[-1] < 1e-4
    wf = dsp.taper_window("front", 50, 500)
    assert wf[0] < 1e-4 and wf[-1] == 1.0
    we = dsp.taper_window("end", 50, 500)
    # reference quirk (ts_library.py:470-473): the 'end' branch comes up
    # one short and the repair appends a trailing 1.0 — reproduced as-is
    assert we[0] == 1.0 and we[-2] < 1e-4 and we[-1] == 1.0


def test_pad_for_highpass_rule():
    x = np.ones(100)
    padded, pad = dsp.pad_for_highpass(x, 0.01, fmin=0.1, order=4)
    assert pad == round((1.5 * 4 / 0.1) / 0.01 / 2.0)
    assert len(padded) == 100 + 2 * pad
    padded2, pad2 = dsp.pad_for_highpass(x, 0.01, 0.1, 4, existing=pad + 10)
    assert pad2 == pad + 10 and len(padded2) == 100


def test_baseline_removes_polynomial_drift():
    dt, n = 0.01, 3000
    t = np.arange(n) * dt
    sig = np.sin(2 * np.pi * 2 * t)
    drift_dis = 0.01 * t**2 + 0.001 * t**3
    drift_acc = np.gradient(np.gradient(drift_dis, dt), dt)
    _, _, _, dmod = dsp.baseline_correction(sig + drift_acc, dt, 1.0, 5)
    _, _, _, dmod0 = dsp.baseline_correction(sig, dt, 1.0, 5)
    assert np.max(np.abs(dmod - dmod0)) < 0.01 * np.max(np.abs(drift_dis))


def test_rotate_pair():
    h1, h2 = np.array([1.0, 2.0]), np.array([3.0, 4.0])
    r1, r2 = dsp.rotate_pair(h1, h2, 90.0)
    np.testing.assert_allclose(r1, [-3, -4], atol=1e-12)
    np.testing.assert_allclose(r2, [1, 2], atol=1e-12)
    # rotating by 360 in two steps is the identity
    a1, a2 = dsp.rotate_pair(*dsp.rotate_pair(h1, h2, 30.0), 330.0)
    np.testing.assert_allclose(a1, h1, atol=1e-12)
    np.testing.assert_allclose(a2, h2, atol=1e-12)
    # 270-separation uses the reflected matrix
    r1b, _ = dsp.rotate_pair(h1, h2, 30.0, angle_between=270)
    assert r1b[0] == pytest.approx(
        np.cos(np.radians(30)) * 1 + np.sin(np.radians(30)) * 3
    )


def test_resample_paths():
    dt = 0.005
    t = np.arange(4096) * dt
    x = np.sin(2 * np.pi * 2.0 * t)
    same = dsp.resample(x, dt, dt)
    assert np.array_equal(same, x)  # no-op fast path (ts_library.py:915-917)
    # integer path (decimate by 2): matches analytic on the coarse grid
    d = dsp.resample(x, dt, 0.01)
    ref = np.sin(2 * np.pi * 2.0 * np.arange(len(d)) * 0.01)
    assert np.max(np.abs(d - ref)[10:-10]) < 0.02
    # sinc path (non-integer): bandlimited signal reconstructed
    s = dsp.resample(x[:1024], dt, 0.008)
    refs = np.sin(2 * np.pi * 2.0 * np.arange(len(s)) * 0.008)
    assert np.max(np.abs(s - refs)[20:-20]) < 0.01


def test_oscillator_static_and_resonance():
    dt, n = 0.01, 4000
    w = 2 * np.pi / 0.5
    static = dsp.oscillator_response(np.full(n, 2.0), w, 0.05, dt)
    assert static[-1] == pytest.approx(-2.0, abs=1e-6)  # psa → -a at rest
    t = np.arange(n) * dt
    res = dsp.oscillator_response(np.sin(w * t), w, 0.05, dt)
    assert dsp.calc_sa(res) == pytest.approx(1.0 / (2 * 0.05), rel=0.05)


def test_rotd50_invariance():
    dt = 0.01
    t = np.arange(2000) * dt
    a1 = np.sin(2 * np.pi * 1.0 * t)
    a2 = np.cos(2 * np.pi * 1.0 * t)
    periods = np.array([0.2, 1.0])
    _, _, rd = dsp.rotd50(a1, a2, dt, periods=periods)
    # circularly polarized input: every rotation sees the same peak →
    # rotd50 == psa of either component (within the pre-filter tolerance)
    psa1, psa2, _ = dsp.rotd50(a1, a2, dt, periods=periods)
    assert rd[1] == pytest.approx(psa1[1], rel=1e-2)
    # rotd50 is bounded by min/max over the two as-recorded psas × √2
    assert rd[1] <= max(psa1[1], psa2[1]) * np.sqrt(2) + 1e-9


def test_fas_peak_location():
    dt = 0.01
    t = np.arange(2048) * dt
    freq, amp = dsp.fas(np.sin(2 * np.pi * 5 * t), dt, 2048, 0.5, 20)
    assert abs(freq[np.argmax(amp)] - 5.0) < 0.1


def test_polimod_recovers_coefficients():
    x = np.linspace(0, 10, 400)
    y = 3.0 * x**2 + 0.5 * x**3
    p = dsp.polimod(x, y, 3, 1)  # fit x^2..x^3
    np.testing.assert_allclose(p, [3.0, 0.5], rtol=1e-8)


def test_spline_matches_linear_on_linear_data():
    # a natural spline through collinear points is that line
    x = np.arange(10, dtype=float)
    y = 3.0 * x + 1.0
    xq = np.linspace(0.0, 9.0, 37)
    np.testing.assert_allclose(dsp.spline_interp(x, y, xq), 3.0 * xq + 1.0,
                               atol=1e-12)


def test_spline_interpolates_knots_exactly():
    rng = np.random.default_rng(11)
    x = np.sort(rng.uniform(0, 10, 20))
    y = rng.normal(0, 1, 20)
    np.testing.assert_allclose(dsp.spline_interp(x, y, x), y, atol=1e-12)


def test_spline_beats_linear_on_smooth_curve():
    x = np.linspace(0, 2 * np.pi, 20)
    y = np.sin(x)
    xq = np.linspace(0.3, 2 * np.pi - 0.3, 101)
    err_spline = np.abs(dsp.spline_interp(x, y, xq) - np.sin(xq)).max()
    err_linear = np.abs(np.interp(xq, x, y) - np.sin(xq)).max()
    assert err_spline < err_linear / 5


def test_interp_fft_preserves_original_samples():
    # band-limited signal: the 2x-upsampled series must pass through
    # the original samples and reproduce the underlying sine between them
    n = 256
    t = np.arange(n) / n
    sig = np.sin(2 * np.pi * 5 * t) + 0.5 * np.cos(2 * np.pi * 12 * t)
    up = dsp.interp_fft(sig, 4)
    np.testing.assert_allclose(up[::4], sig, atol=1e-9)
    t4 = np.arange(4 * n) / (4 * n)
    truth = np.sin(2 * np.pi * 5 * t4) + 0.5 * np.cos(2 * np.pi * 12 * t4)
    np.testing.assert_allclose(up, truth, atol=1e-9)


def test_sosfilt_scan_matches_sequential():
    """The vectorized geometric-scan SOS path must reproduce the literal
    DF-II-T per-sample loop (with and without steady-state zi) across
    the filter families the engine designs."""
    rng = np.random.default_rng(11)
    x = rng.normal(size=4096)
    for sos in (
        dsp.butter_sos(4, 0.1, "lowpass"),
        dsp.butter_sos(4, [0.05, 0.4], "bandpass"),
        dsp.butter_sos(5, 0.2, "highpass"),  # odd order → 1st-order section
        dsp.cheby1_sos(8, 0.05, 0.2),
    ):
        y_fast, zf_fast = dsp.sosfilt(sos, x)
        y_seq, zf_seq = dsp.sosfilt_seq(sos, x)
        np.testing.assert_allclose(y_fast, y_seq, atol=1e-9)
        np.testing.assert_allclose(zf_fast, zf_seq, atol=1e-9)
        zi = dsp._sos_zi(sos) * x[0]
        y_fast, _ = dsp.sosfilt(sos, x, zi)
        y_seq, _ = dsp.sosfilt_seq(sos, x, zi)
        np.testing.assert_allclose(y_fast, y_seq, atol=1e-9)


def test_sosfilt_state_fold_odd_sections():
    """Regression (round-2 review): nonzero z1 on a first-order section
    with b2 != 0, pure-FIR sections, and mixed cascades — the universal
    f[0]+=z0, f[1]+=z1 state fold must match the literal loop for every
    legal SOS, not just our designed filters."""
    rng = np.random.default_rng(21)
    x = rng.normal(size=512)
    cases = [
        np.array([[0.5, 0.3, 0.2, 1.0, -0.4, 0.0]]),  # 1st-order, b2 != 0
        np.array([[0.5, 0.25, 0.1, 1.0, 0.0, 0.0]]),  # pure FIR
        np.vstack(
            [[[0.5, 0.3, 0.2, 1.0, -0.4, 0.0]], dsp.butter_sos(4, 0.2, "lowpass")]
        ),
    ]
    for sos in cases:
        zi = rng.normal(size=(sos.shape[0], 2))
        y1, z1 = dsp.sosfilt(sos, x, zi)
        y2, z2 = dsp.sosfilt_seq(sos, x, zi)
        np.testing.assert_allclose(y1, y2, atol=1e-10)
        np.testing.assert_allclose(z1, z2, atol=1e-10)


def test_oscillator_scan_matches_sequential():
    rng = np.random.default_rng(12)
    x = rng.normal(size=4096)
    for period in (0.01, 0.1, 1.0, 10.0):
        w = 2 * np.pi / period
        fast = dsp.oscillator_response(x, w, 0.05, 0.01)
        seq = dsp.oscillator_response_seq(x, w, 0.05, 0.01)
        scale = max(1.0, np.max(np.abs(seq)))
        np.testing.assert_allclose(fast / scale, seq / scale, atol=1e-10)


def test_smooth_scan_matches_sequential():
    rng = np.random.default_rng(13)
    x = rng.normal(size=2048)
    for factor in (2, 3, 5):
        np.testing.assert_allclose(
            dsp.smooth(x, factor), dsp.smooth_seq(x, factor), atol=1e-12
        )


def _ellip_stop_edges(N, rp, rs, Wn, btype):
    """Digital stopband edges implied by the degree equation: the analog
    prototype reaches −rs exactly at Ω = 1/k; map through the frequency
    transform + bilinear prewarp (fs=2 convention)."""
    k1 = np.sqrt(10 ** (0.1 * rp) - 1) / np.sqrt(10 ** (0.1 * rs) - 1)
    k = dsp._ellipdeg(N, k1)
    t = lambda v: 4 * np.tan(np.pi * v / 2)  # noqa: E731
    it = lambda om: (2 / np.pi) * np.arctan(om / 4)  # noqa: E731
    if btype == "lowpass":
        return [(it(t(Wn) / k), 1.0)]
    if btype == "highpass":
        return [(0.0, it(t(Wn) * k))]
    w1, w2 = t(Wn[0]), t(Wn[1])
    bw, wo = w2 - w1, np.sqrt(w1 * w2)
    hi = bw / (2 * k) + np.sqrt((bw / (2 * k)) ** 2 + wo**2)
    lo = -bw / (2 * k) + np.sqrt((bw / (2 * k)) ** 2 + wo**2)
    return [(0.0, it(lo)), (it(hi), 1.0)]


def _sos_freq_response(sos: np.ndarray, w: np.ndarray) -> np.ndarray:
    """|H(e^{jw})| of an SOS cascade (w in rad/sample), to pin passband
    ripple / stopband attenuation."""
    ejw = np.exp(-1j * np.asarray(w, dtype=np.float64))
    h = np.ones(len(ejw), dtype=complex)
    for s in sos:
        num = s[0] + s[1] * ejw + s[2] * ejw**2
        den = s[3] + s[4] * ejw + s[5] * ejw**2
        h *= num / den
    return np.abs(h)


def test_ellip_design_meets_spec():
    """Equiripple both ways: passband |H| oscillates exactly between 1
    and (1+ep²)^(-1/2); stopband stays ≤ −rs dB beyond the edge the
    degree equation implies — for every btype the reference exposes
    (ts_library.py:836-884, family='ellip')."""
    for N, rp, rs, Wn, btype in [
        (4, 0.1, 100, 0.3, "lowpass"),
        (5, 0.1, 80, 0.2, "lowpass"),
        (3, 1.0, 60, 0.4, "lowpass"),
        (4, 0.1, 100, 0.3, "highpass"),
        (4, 0.1, 100, [0.2, 0.5], "bandpass"),
    ]:
        sos = dsp.ellip_sos(N, rp, rs, Wn, btype)
        lo = 1 / np.sqrt(1 + (10 ** (0.1 * rp) - 1))
        w = np.linspace(1e-4, np.pi * 0.9999, 40001)
        H = _sos_freq_response(sos, w)
        wn = np.atleast_1d(Wn)
        if btype == "lowpass":
            pb = H[w <= wn[0] * np.pi]
        elif btype == "highpass":
            pb = H[w >= wn[0] * np.pi]
        else:
            pb = H[(w >= wn[0] * np.pi) & (w <= wn[1] * np.pi)]
        assert pb.max() < 1 + 1e-6 and pb.min() > lo - 1e-4
        assert pb.min() == pytest.approx(lo, abs=1e-4)  # ripple touches
        sb = np.zeros_like(w, dtype=bool)
        for a, b in _ellip_stop_edges(N, rp, rs, Wn, btype):
            sb |= (w >= a * np.pi * 1.001) & (w <= b * np.pi)
        assert 20 * np.log10(H[sb].max()) <= -rs + 1.0


def test_ellip_filtfilt_attenuates():
    """filter_data(family='ellip') end-to-end: a stopband tone dies, a
    passband tone survives (zero-phase, so no lag on the survivor)."""
    dt = 0.01
    t = np.arange(4096) * dt
    keep = np.sin(2 * np.pi * 2.0 * t)
    kill = np.sin(2 * np.pi * 45.0 * t)
    y = dsp.filter_data(
        keep + kill, dt, "lowpass", fmax=5.0, family="ellip", rp=0.1, rs=100
    )
    mid = slice(500, -500)
    assert np.max(np.abs(y[mid] - keep[mid])) < 0.02


def test_get_periods_log_grid():
    p = dsp.get_periods(0.1, 10.0)
    assert len(p) == 20 and p[0] == pytest.approx(0.1) and p[-1] == pytest.approx(10.0)
    r = p[1:] / p[:-1]
    np.testing.assert_allclose(r, r[0])  # geometric spacing


def test_linear_recurrence_property():
    """Property test: the geometric-scan evaluation of first/second-order
    recurrences matches the literal loop for random stable coefficients
    and forcing — including near-critically-damped and heavily-damped
    pole pairs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        r=st.floats(0.01, 0.999),            # pole magnitude
        theta=st.floats(0.0, 3.1),           # pole angle (0 → repeated-ish)
        seed=st.integers(0, 2**31 - 1),
    )
    def check(r, theta, seed):
        rng = np.random.default_rng(seed)
        f = rng.normal(size=300)
        c1 = 2 * r * np.cos(theta)
        c2 = -(r * r)
        got = dsp.linear_recurrence2(c1, c2, f)
        # literal loop, zero initial state
        out = np.empty(len(f))
        a_, b_ = 0.0, 0.0
        for i in range(len(f)):
            y = c1 * a_ + c2 * b_ + f[i]
            out[i] = y
            b_, a_ = a_, y
        scale = max(1.0, np.max(np.abs(out)))
        np.testing.assert_allclose(got / scale, out / scale, atol=5e-9)

    check()


def test_fft_radix2_matches_npfft():
    """The fixed-op-order iterative FFT (the SQL-replayable engine path)
    agrees with pocketfft at tolerance across sizes, zero-padding and
    truncation."""
    rng = np.random.default_rng(77)
    for n, pts in [(5, 8), (48, 64), (64, 128), (300, 512), (2048, 4096),
                   (5000, 4096)]:  # last: truncation branch
        x = rng.normal(size=n)
        re, im = dsp.fft_radix2(x, pts)
        ref = np.fft.fft(x, pts) if n <= pts else np.fft.fft(x[:pts])
        scale = max(1.0, np.max(np.abs(ref)))
        np.testing.assert_allclose((re + 1j * im) / scale, ref / scale,
                                   atol=1e-12)


def test_fft_radix2_rejects_non_pow2():
    with pytest.raises(ValueError):
        dsp.fft_radix2(np.zeros(10), 96)


def test_fas_exact_path_matches_npfft_path():
    """fas() below the _FFT_EXACT_MAX threshold (radix-2 + explicit
    sqrt amplitude) equals the np.fft path at tolerance — the exact
    path changes op order, not semantics."""
    rng = np.random.default_rng(42)
    x = rng.normal(size=1500)
    dt = 0.01
    pts = dsp.get_points(len(x))  # 2048 <= threshold -> exact path
    f1, a1 = dsp.fas(x, dt, pts, 0.5, 10.0)
    afs = np.abs(np.fft.fft(x, pts)) * dt
    deltaf = (1.0 / dt) / pts
    inif, endf = int(0.5 / deltaf), int(10.0 / deltaf) + 1
    a2 = dsp.smooth(afs[inif:endf], 3)
    np.testing.assert_allclose(a1, a2, atol=1e-12)
    assert f1[0] == (1.0 / dt) * inif / pts


def test_fft_twiddle_recurrence_is_pure_ieee():
    """Twiddle tables must come from the replayable recurrence, not
    per-k trig: w_k = w_{k-1}·base bit-exactly."""
    _, tw = dsp._fft_tables(256)
    for s, (wr, wi) in enumerate(tw, start=1):
        br, bi = dsp.fft_stage_base(s)
        for k in range(1, len(wr)):
            assert wr[k] == wr[k - 1] * br - wi[k - 1] * bi
            assert wi[k] == wr[k - 1] * bi + wi[k - 1] * br


def test_smooth_seq_dispatch_threshold():
    """Below 512 samples smooth() IS the literal reference loop (the
    FAS oracle replays it); above, the geometric scan at tolerance."""
    rng = np.random.default_rng(3)
    short = rng.normal(size=390)
    assert np.array_equal(dsp.smooth(short, 3), dsp.smooth_seq(short, 3))
