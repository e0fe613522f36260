"""Pure-NumPy signal kernels re-expressing the ts-process capability
surface (scipy is not available in this environment, so filter design is
implemented from the published closed forms).

Reference semantics (cited, re-derived — not copied):
- integrate / derivative        /root/reference/ts_process/ts_library.py:96-124
- smooth (in-place 3-pt IIR)    ts_library.py:393-409
- taper (Kaiser β=14 windows)   ts_library.py:439-479
- zero-pad rule 1.5·N/fmin      ts_library.py:805-818
- Butterworth → SOS → filtfilt  ts_library.py:835-894
- polimod / baseline_function   ts_library.py:575-684
- rotate pair (90°/270° matrix) ts_library.py:686-777
- FAS                           ts_library.py:411-437
- interp: decimate / sinc       ts_library.py:896-962
- SDOF oscillator recurrence    rotd50/calcrsp.f:102-170 (Nigam–Jennings
  exact-piecewise coefficients, a published method)
- RotD50 (90 angles → 180 Sa → median), amplitude pre-filter, Famp1.5
                                 rotd50/rotd50.f:185-246

All kernels are float64 and deterministic; they run inside grouped-map
Arrow UDFs (see operators/analytics.py), parallel across groups,
sequential within — the reference's single-series semantics preserved
per group.
"""

from __future__ import annotations

import numpy as np

# ------------------------------------------------------------ calculus


def integrate(data: np.ndarray, dt: float) -> np.ndarray:
    """Cumulative trapezoid with the reference's data[0]·dt/2 offset
    (ts_library.py:96-109)."""
    data = np.asarray(data, dtype=np.float64)
    out = np.empty_like(data)
    out[0] = 0.0
    if len(data) > 1:
        np.cumsum((data[1:] + data[:-1]) * (dt / 2.0), out=out[1:])
    return out + data[0] * dt / 2.0


def derivative(data: np.ndarray, dt: float) -> np.ndarray:
    """First difference with 0 prepended (ts_library.py:111-124)."""
    data = np.asarray(data, dtype=np.float64)
    return np.diff(np.insert(data, 0, 0.0)) / dt


# ------------------------------------------ vectorized linear recurrences
# The reference's sequential kernels (in-place smooth, SOS cascades, the
# Nigam–Jennings oscillator) are first/second-order linear recurrences.
# A per-sample Python loop is the single hottest cost at scale (~10^8
# interpreter iterations for 2M samples × 63 periods), so the recurrences
# are evaluated in closed form instead: the solution of
# G[n] = λ·G[n-1] + f[n] is the geometric scan λ^n · Σ f[k]·λ^{-k}, which
# NumPy computes with one cumsum — blocked with magnitude rescaling so
# λ^{-k} never overflows for damped (|λ|<1) systems.  Second-order
# recurrences split into two such scans via their characteristic roots.
# The *_seq twins keep the literal reference loops for equivalence tests.


def _geo_scan(lam: complex, f: np.ndarray) -> np.ndarray:
    """G[n] = lam·G[n-1] + f[n], G[-1] = 0 — vectorized.

    Blocked rescaling: within a block of length B, G is
    lam^j · (carry·lam + cumsum(f_k·lam^{-k})); B is capped so
    |lam|^{-B} ≤ 1e250.  Absolute error stays ~eps × recent-input
    magnitude (the cumsum's largest term is always the newest), i.e. the
    same conditioning as the sequential loop."""
    n = len(f)
    out = np.empty(n, dtype=complex)
    mag = abs(lam)
    if mag == 0.0:
        out[:] = f
        return out
    if mag > 1.0 + 1e-12:  # unstable recurrence — not our domain
        g = 0.0 + 0.0j
        for i in range(n):
            g = lam * g + f[i]
            out[i] = g
        return out
    block = n if mag > 0.999999 else max(
        8, min(n, int(250.0 / max(1e-12, -np.log10(mag))))
    )
    j = np.arange(block)
    pw = lam ** j          # |·| ≤ 1, underflow-safe
    ipw = lam ** (-j)      # bounded by the block cap
    carry = 0.0 + 0.0j
    for s in range(0, n, block):
        fb = f[s : s + block]
        m = len(fb)
        csum = np.cumsum(fb * ipw[:m])
        gb = pw[:m] * (lam * carry + csum)
        out[s : s + m] = gb
        carry = gb[-1]
    return out


def linear_recurrence2(c1: float, c2: float, f: np.ndarray) -> np.ndarray:
    """y[n] = c1·y[n-1] + c2·y[n-2] + f[n] with y[-1] = y[-2] = 0 —
    vectorized via the characteristic roots l1,l2 of z² − c1·z − c2:
    the response is (l1·G1 − l2·G2)/(l1 − l2) with G_i the geometric
    scan of f under l_i.  Falls back to the literal loop when the roots
    (nearly) coincide (the split would cancel catastrophically)."""
    f = np.asarray(f, dtype=np.float64)
    if len(f) == 0:
        return f.copy()
    if c2 == 0.0:  # first-order
        return np.real(_geo_scan(c1, f))
    disc = c1 * c1 + 4.0 * c2
    rt = np.sqrt(complex(disc))
    l1 = (c1 + rt) / 2.0
    l2 = (c1 - rt) / 2.0
    if abs(l1 - l2) < 1e-7 * max(1.0, abs(l1)):
        return _linrec2_seq(c1, c2, f)
    if disc < 0.0:
        # conjugate roots + real forcing ⇒ G2 = conj(G1):
        # y = (l1·G1 − l2·G2)/(l1 − l2) = Im(l1·G1)/Im(l1) — one scan
        g1 = _geo_scan(l1, f)
        return np.imag(l1 * g1) / l1.imag
    g1 = _geo_scan(l1, f)
    g2 = _geo_scan(l2, f)
    return np.real((l1 * g1 - l2 * g2) / (l1 - l2))


def _linrec2_seq(c1: float, c2: float, f: np.ndarray) -> np.ndarray:
    out = np.empty(len(f), dtype=np.float64)
    ym1 = ym2 = 0.0
    for i in range(len(f)):
        y = c1 * ym1 + c2 * ym2 + f[i]
        out[i] = y
        ym2, ym1 = ym1, y
    return out


def smooth(data: np.ndarray, factor: int = 3) -> np.ndarray:
    """The reference's *in-place sequential* smoother: each point mixes
    the already-smoothed left neighbor (ts_library.py:393-409) — an
    IIR-like recurrence, deliberately not a plain FIR average.
    Evaluated as a first-order geometric scan (y_i = c·y_{i-1} + 0.5·x_i
    + c·x_{i+1} for interior points); edges keep the raw samples."""
    x = np.asarray(data, dtype=np.float64)
    n = x.size
    if n < 3:
        return x.copy()
    if n < 512:
        # literal reference loop below the seq threshold (the same
        # short-fixture rule as sosfilt/oscillator): a fixed IEEE op
        # chain the DuckDB FAS oracle replays exactly
        return smooth_seq(x, factor)
    c = 0.5 / (factor - 1)
    # interior recurrence y_i = c·y_{i-1} + (0.5·x_i + c·x_{i+1}); the
    # y_0 = x_0 seed folds into the first forcing term exactly
    f = 0.5 * x[1:-1] + c * x[2:]
    f[0] += c * x[0]
    out = np.empty(n, dtype=np.float64)
    out[0], out[-1] = x[0], x[-1]
    out[1:-1] = np.real(_geo_scan(c, f))
    return out


def smooth_seq(data: np.ndarray, factor: int = 3) -> np.ndarray:
    """Literal reference loop (ts_library.py:393-409) — the equivalence
    oracle for the vectorized `smooth`."""
    data = np.array(data, dtype=np.float64, copy=True)
    c = 0.5 / (factor - 1)
    for i in range(1, data.size - 1):
        data[i] = 0.5 * data[i] + c * data[i - 1] + c * data[i + 1]
    return data


# ------------------------------------------------------------- windows


def taper_window(flag: str, m: int, samples: int) -> np.ndarray:
    """Kaiser(β=14) taper at front/end/both (ts_library.py:439-479),
    including its off-by-one append repair."""
    window = np.kaiser(2 * m + 1, 14.0)
    if flag == "front":
        window = np.concatenate([window[: m + 1], np.ones(samples - m - 1)])
    elif flag == "end":
        window = np.concatenate([np.ones(samples - m - 1), window[m + 1 :]])
    elif flag == "all":
        window = np.concatenate(
            [window[: m + 1], np.ones(samples - 2 * m - 1), window[m + 1 :]]
        )
    if window.size < samples:
        window = np.append(window, 1.0)
    if window.size != samples:
        return np.ones(samples)
    return window


def tukey(n: int, alpha: float = 0.5) -> np.ndarray:
    """Tukey (tapered cosine) window — the post-resample taper
    (ts_library.py:1028-1035)."""
    if alpha <= 0:
        return np.ones(n)
    if alpha >= 1:
        return np.hanning(n)
    x = np.linspace(0, 1, n)
    w = np.ones(n)
    left = x < alpha / 2
    right = x >= 1 - alpha / 2
    w[left] = 0.5 * (1 + np.cos(2 * np.pi / alpha * (x[left] - alpha / 2)))
    w[right] = 0.5 * (1 + np.cos(2 * np.pi / alpha * (x[right] - 1 + alpha / 2)))
    return w


def pad_for_highpass(
    data: np.ndarray, dt: float, fmin: float, order: int = 4, existing: int = 0
) -> tuple[np.ndarray, int]:
    """Zero-pad both ends before high/band-pass: total pad 1.5·N/fmin
    seconds, half per side (ts_library.py:805-818)."""
    tz_pad = (1.5 * order / fmin) / dt
    pad_length = int(np.round(tz_pad / 2.0))
    if existing >= pad_length:
        return np.asarray(data, dtype=np.float64), existing
    z = np.zeros(pad_length - existing)
    return np.concatenate([z, data, z]), pad_length


# ------------------------------------------- IIR design (pure NumPy)


def _butter_zpk(N: int, Wn, btype: str):
    """Butterworth digital design via analog prototype + bilinear
    transform (standard textbook derivation; scipy-compatible Wn in
    units of Nyquist)."""
    # analog lowpass prototype: poles on the unit circle's left half
    k = np.arange(1, N + 1)
    p = np.exp(1j * np.pi * (2 * k + N - 1) / (2 * N))
    z = np.array([], dtype=complex)
    gain = 1.0
    fs = 2.0
    warped = (
        2 * fs * np.tan(np.pi * np.asarray(Wn, dtype=np.float64) / fs)
        if np.ndim(Wn)
        else 2 * fs * np.tan(np.pi * float(Wn) / fs)
    )
    if btype == "lowpass":
        w0 = float(warped)
        p = p * w0
        gain *= w0**N
    elif btype == "highpass":
        w0 = float(warped)
        p = w0 / p
        z = np.zeros(N, dtype=complex)
        gain *= 1.0  # prod(-p_proto)=±1; |prod| = 1 for Butterworth
        # exact: k * real(prod(-z)/prod(-p)) of the prototype == 1
    elif btype == "bandpass":
        w1, w2 = (float(warped[0]), float(warped[1]))
        bw = w2 - w1
        wo = np.sqrt(w1 * w2)
        p_lp = p * bw / 2
        disc = np.sqrt(p_lp**2 - wo**2 + 0j)
        p = np.concatenate([p_lp + disc, p_lp - disc])
        z = np.zeros(N, dtype=complex)
        gain *= bw**N
    else:
        raise ValueError(btype)
    # bilinear transform z = (1 + s/(2fs)) / (1 - s/(2fs))
    fs2 = 2.0 * fs
    z_d = (fs2 + z) / (fs2 - z)
    p_d = (fs2 + p) / (fs2 - p)
    # zeros at infinity map to z = -1
    deg = len(p) - len(z)
    z_d = np.concatenate([z_d, -np.ones(deg)])
    gain_d = gain * np.real(np.prod(fs2 - z) / np.prod(fs2 - p))
    return z_d, p_d, gain_d


def _poly_from_roots(roots: np.ndarray) -> np.ndarray:
    return np.real_if_close(np.poly(roots)) if len(roots) else np.array([1.0])


def zpk2sos(z: np.ndarray, p: np.ndarray, k: float) -> np.ndarray:
    """Pair conjugate poles/zeros into biquads (sufficient pairing for
    Butterworth-type filters whose zeros are all at z=±1)."""

    def _sorted_conj_pairs(roots: np.ndarray) -> list[np.ndarray]:
        cplx = sorted(
            (r for r in roots if abs(r.imag) > 1e-12 and r.imag > 0),
            key=lambda r: -abs(abs(r) - 1),
        )
        real = sorted((r for r in roots if abs(r.imag) <= 1e-12), key=lambda r: r.real)
        pairs = [np.array([r, np.conj(r)]) for r in cplx]
        for i in range(0, len(real) - 1, 2):
            pairs.append(np.array([real[i], real[i + 1]]))
        if len(real) % 2:
            pairs.append(np.array([real[-1]]))
        return pairs

    zp = _sorted_conj_pairs(z)
    pp = _sorted_conj_pairs(p)
    n_sections = max(len(zp), len(pp))
    while len(zp) < n_sections:
        zp.append(np.array([]))
    while len(pp) < n_sections:
        pp.append(np.array([]))
    sos = np.zeros((n_sections, 6))
    for i in range(n_sections):
        b = _poly_from_roots(zp[i])
        a = _poly_from_roots(pp[i])
        b = np.pad(np.atleast_1d(np.real(b)), (0, 3 - len(np.atleast_1d(b))))
        a = np.pad(np.atleast_1d(np.real(a)), (0, 3 - len(np.atleast_1d(a))))
        sos[i, :3] = b
        sos[i, 3:] = a
    sos[0, :3] *= k
    return sos


def butter_sos(N: int, Wn, btype: str = "lowpass") -> np.ndarray:
    """Digital Butterworth in SOS form; Wn normalized by Nyquist (the
    reference's zpk2sos(butter(...)) path, ts_library.py:883-889)."""
    z, p, k = _butter_zpk(N, Wn, btype)
    return zpk2sos(z, p, k)


import functools as _functools


@_functools.lru_cache(maxsize=64)
def cheby1_sos(N: int, rp: float, Wn: float) -> np.ndarray:
    """Chebyshev-I digital lowpass design (closed-form poles) — the
    anti-alias filter family scipy's decimate() uses (order 8, rp=0.05,
    cutoff 0.8/q), which is the reference's downsample fast path
    (ts_library.py:919-925).  lru_cached like design_sos — the decimate
    kernel calls it once per series per column."""
    eps = np.sqrt(10 ** (0.1 * rp) - 1.0)
    mu = np.arcsinh(1.0 / eps) / N
    m = np.arange(1, N + 1)
    theta = np.pi * (2 * m - 1) / (2 * N)
    p = -np.sinh(mu) * np.sin(theta) + 1j * np.cosh(mu) * np.cos(theta)
    # analog prototype gain: |H(0)| = 1 (odd N) or 1/sqrt(1+eps²) (even)
    k = np.real(np.prod(-p))
    if N % 2 == 0:
        k /= np.sqrt(1.0 + eps**2)
    fs = 2.0
    warped = 2 * fs * np.tan(np.pi * float(Wn) / fs)
    p = p * warped
    k *= warped**N
    fs2 = 2.0 * fs
    p_d = (fs2 + p) / (fs2 - p)
    z_d = -np.ones(N)
    k_d = k * np.real(1.0 / np.prod(fs2 - p))
    sos = zpk2sos(z_d, p_d, k_d)
    sos.flags.writeable = False  # shared cached instance
    return sos


def sosfilt_seq(sos: np.ndarray, x: np.ndarray, zi: np.ndarray | None = None):
    """Cascaded biquads, direct form II transposed — the literal
    per-sample loop: the equivalence oracle for the vectorized `sosfilt`
    (tests/test_dsp.py::test_sosfilt_scan_matches_sequential) AND the
    production path for short series (sosfilt dispatch).

    Coefficients and state are hoisted to plain Python floats ONCE —
    the per-sample numpy-row unpacking of the naive form dominated the
    many-small-groups regime (~5× slower); float arithmetic is the same
    IEEE double either way, so results are bit-identical."""
    x_arr = np.asarray(x, dtype=np.float64)
    n_sections = sos.shape[0]
    secs = [tuple(float(v) for v in sos[s]) for s in range(n_sections)]
    zs = [
        [0.0, 0.0] if zi is None else [float(zi[s, 0]), float(zi[s, 1])]
        for s in range(n_sections)
    ]
    y = np.empty_like(x_arr)
    xs = x_arr.tolist()
    for n, xn in enumerate(xs):
        for s, (b0, b1, b2, _a0, a1, a2) in enumerate(secs):
            z = zs[s]
            w = xn
            xn = b0 * w + z[0]
            z[0] = b1 * w - a1 * xn + z[1]
            z[1] = b2 * w - a2 * xn
        y[n] = xn
    zf = np.array(zs, dtype=np.float64)
    return y, zf


def sosfilt(sos: np.ndarray, x: np.ndarray, zi: np.ndarray | None = None):
    """Cascaded biquads — vectorized: each section is the second-order
    recurrence y = −a1·y₋₁ − a2·y₋₂ + b0·x + b1·x₋₁ + b2·x₋₂, evaluated
    by `linear_recurrence2` (geometric scans over the section's poles).

    DF-II-transposed state folds in EXACTLY and universally: unrolling
    the state equations shows the initial (z0, z1) contribute +z0 to
    y[0] and +z1 to y[1] and nothing else — so fold them into the
    forcing terms and run the zero-init recurrence.  Valid for every
    legal section (biquad, first-order, pure-FIR, any b2/a2 pattern);
    matches the sequential form to ~1e-13."""
    x = np.asarray(x, dtype=np.float64)
    n_sections = sos.shape[0]
    n = len(x)
    if n < 512:
        # short series: the literal DF2T loop wins (the blocked-scan
        # setup costs more than ~1k Python iterations) AND is a fixed
        # sequential chain of IEEE ops — which is what lets the DuckDB
        # value-oracles replay signal_process_dt / signal_ellip_bandpass
        # bit-exactly as recursive-CTE folds (queries_signals.py)
        return sosfilt_seq(sos, x, zi)
    zf = np.zeros((n_sections, 2))
    for s in range(n_sections):
        b0, b1, b2, _a0, a1, a2 = sos[s]
        z0, z1 = (0.0, 0.0) if zi is None else (zi[s, 0], zi[s, 1])
        f = b0 * x
        f[1:] += b1 * x[:-1]
        f[2:] += b2 * x[:-2]
        f[0] += z0
        f[1] += z1
        if a1 == 0.0 and a2 == 0.0:
            y = f  # pure-FIR section: the recurrence is the identity
        else:
            y = linear_recurrence2(-a1, -a2, f)
        zf[s, 0] = b1 * x[-1] + b2 * x[-2] - a1 * y[-1] - a2 * y[-2]
        zf[s, 1] = b2 * x[-1] - a2 * y[-1]
        x = y
    return x, zf


_ZI_CACHE: dict[bytes, np.ndarray] = {}
_ZI_CACHE_MAX = 256  # bounded like the design_sos lru_caches: callers
# bypassing the cached designers with many ad-hoc SOS arrays must not
# grow a worker-lifetime dict without limit


def _sos_zi(sos: np.ndarray) -> np.ndarray:
    """Steady-state step response state per section (lfilter_zi
    equivalent), for transient-free filtfilt.  Memoized on the sos bytes
    — recomputed per tiny group otherwise (same regime as design_sos)."""
    key = sos.tobytes()
    hit = _ZI_CACHE.get(key)
    if hit is not None:
        return hit
    if len(_ZI_CACHE) >= _ZI_CACHE_MAX:
        # FIFO eviction (insertion-ordered dict): the working set is a
        # handful of filter designs; anything past the bound is churn
        _ZI_CACHE.pop(next(iter(_ZI_CACHE)))
    n_sections = sos.shape[0]
    zi = np.zeros((n_sections, 2))
    scale = 1.0
    for s in range(n_sections):
        b = sos[s, :3]
        a = sos[s, 3:]
        # solve (I - A) zi = B for direct form II transposed
        A = np.array([[-a[1], 1.0], [-a[2], 0.0]])
        B = np.array([b[1] - a[1] * b[0], b[2] - a[2] * b[0]])
        zi[s] = np.linalg.solve(np.eye(2) - A, B) * scale
        scale *= np.sum(b) / np.sum(a)
    zi.flags.writeable = False  # shared cached instance (callers scale a copy)
    _ZI_CACHE[key] = zi
    return zi


def sosfiltfilt(sos: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Zero-phase forward-backward filtering with odd-extension padding
    and steady-state initial conditions (scipy semantics re-derived;
    ts_library.py:889 uses scipy's sosfiltfilt)."""
    x = np.asarray(x, dtype=np.float64)
    ntaps = 2 * sos.shape[0] + 1
    padlen = min(3 * ntaps, len(x) - 1)
    if padlen > 0:
        ext = np.concatenate(
            [2 * x[0] - x[padlen:0:-1], x, 2 * x[-1] - x[-2 : -padlen - 2 : -1]]
        )
    else:
        ext = x
    zi = _sos_zi(sos)
    y, _ = sosfilt(sos, ext, zi * ext[0])
    y, _ = sosfilt(sos, y[::-1], zi * y[-1])
    y = y[::-1]
    return y[padlen : len(y) - padlen] if padlen > 0 else y


# ------------------------------------------- elliptic design (pure NumPy)
# The reference's filter_data accepts family='ellip' with rp/rs ripple
# parameters (ts_library.py:836-884, scipy.signal.ellip + filtfilt).
# scipy is unavailable here, so the design is re-derived from the
# published Landen-transformation algorithms (S. Orfanidis, "Lecture
# Notes on Elliptic Filter Design", Rutgers, 2006 — public): Jacobi
# cd/sn and their inverses as Gauss/Landen recursions, the exact degree
# equation for the complementary modulus, and the standard analog
# prototype → frequency transform → bilinear pipeline.


def _landen_seq(k: float) -> list[float]:
    """Descending Landen sequence k → 0."""
    out = []
    while k > 1e-16 and len(out) < 64:
        k = (k / (1.0 + np.sqrt(1.0 - k * k))) ** 2
        out.append(k)
    return out


def _cde(u, k: float):
    """cd(u·K(k), k) for normalized (possibly complex) u — ascending
    Gauss transformation from the k→0 limit cos(uπ/2)."""
    w = np.cos(np.asarray(u) * np.pi / 2.0)
    for v in reversed(_landen_seq(k)):
        w = (1.0 + v) * w / (1.0 + v * w * w)
    return w


def _sne(u, k: float):
    """sn(u·K(k), k) for normalized u (same recursion, sin limit)."""
    w = np.sin(np.asarray(u) * np.pi / 2.0)
    for v in reversed(_landen_seq(k)):
        w = (1.0 + v) * w / (1.0 + v * w * w)
    return w


def _asne(w, k: float):
    """Inverse of _sne (normalized u with sn(u·K)=w), complex-capable:
    each descending Gauss step inverts the Möbius map by its quadratic
    root (the branch that reduces to w/(1+v) as v→0)."""
    w = complex(w)
    for v in _landen_seq(k):
        # rationalized root — the naive ((1+v) − √·)/(2vw) form cancels
        # catastrophically as v → 0
        s = np.sqrt((1.0 + v) ** 2 - 4.0 * v * w * w)
        w = 2.0 * w / ((1.0 + v) + s)
    return 2.0 / np.pi * np.arcsin(w)


def _ellipk_agm(k: float) -> float:
    """Complete elliptic integral K(k) via the arithmetic-geometric
    mean: K = π/(2·AGM(1, k')) — robust for k' arbitrarily small (the
    regime where the Landen product form loses the plot)."""
    a, b = 1.0, float(np.sqrt(max(0.0, 1.0 - k * k)))
    for _ in range(80):
        if abs(a - b) < 1e-17 * a:
            break
        a, b = (a + b) / 2.0, float(np.sqrt(a * b))
    return float(np.pi / (2.0 * a))


def _ellipdeg(N: int, k1: float) -> float:
    """Degree equation — modulus k from k1 = ep/es — in NOME form:
    q = nome(k1)^(1/N), k = (θ₂(q)/θ₃(q))².  The sne-product form
    (Orfanidis §7 eq. 47) needs sn at complementary modulus → 1, where
    Landen stalls; the theta series converges in a handful of terms for
    every practical (rp, rs)."""
    K = _ellipk_agm(k1)
    Kp = _ellipk_agm(float(np.sqrt(1.0 - k1 * k1)))
    q1 = np.exp(-np.pi * Kp / K)
    q = q1 ** (1.0 / N)
    num = sum(q ** (m * (m + 1)) for m in range(30))  # θ₂ / (2·q^{1/4})
    den = 1.0 + 2.0 * sum(q ** (m * m) for m in range(1, 30))  # θ₃
    return float(4.0 * np.sqrt(q) * (num / den) ** 2)


def _ellip_zpk_proto(N: int, rp: float, rs: float):
    """Analog elliptic lowpass prototype (passband edge at Ω=1):
    zeros ±j/(k·cd(uᵢK,k)), poles j·cd((uᵢ−jv₀)K, k) (Orfanidis §8)."""
    ep = np.sqrt(10.0 ** (0.1 * rp) - 1.0)
    es = np.sqrt(10.0 ** (0.1 * rs) - 1.0)
    k1 = ep / es
    k = _ellipdeg(N, k1)
    L, r = N // 2, N % 2
    ui = (2.0 * np.arange(1, L + 1) - 1.0) / N
    zeta = np.real(_cde(ui, k))
    z = 1j / (k * zeta)
    z = np.concatenate([z, np.conj(z)])
    v0 = np.real(-1j * _asne(1j / ep, k1) / N) * 1.0  # v0 is real
    p = 1j * _cde(ui - 1j * v0, k)
    p = np.concatenate([p, np.conj(p)])
    if r:
        p = np.append(p, 1j * _sne(1j * v0, k))
    p = np.asarray(p, dtype=complex)
    # gain: H(0) = 1 (odd N) or (1+ep²)^(-1/2) (even N)
    h0 = 1.0 if r else 1.0 / np.sqrt(1.0 + ep * ep)
    kgain = h0 * np.abs(np.prod(p) / np.prod(z))
    return z, p, float(kgain)


def ellip_sos(N: int, rp: float, rs: float, Wn, btype: str = "lowpass") -> np.ndarray:
    """Digital elliptic filter in SOS form (Wn in Nyquist units) — the
    reference's scipy.signal.ellip(N, rp, rs, Wn, btype) equivalent
    (ts_library.py:883-884), designed from closed forms.  Sections pair
    each conjugate zero pair with the pole pair nearest in angle
    (elliptic zeros are finite, unlike Butterworth's at z=−1)."""
    z, p, k = _ellip_zpk_proto(N, rp, rs)
    fs = 2.0
    warped = (
        2 * fs * np.tan(np.pi * np.asarray(Wn, dtype=np.float64) / fs)
        if np.ndim(Wn)
        else 2 * fs * np.tan(np.pi * float(Wn) / fs)
    )
    if btype == "lowpass":
        w0 = float(warped)
        z, p, k = z * w0, p * w0, k * w0 ** (len(p) - len(z))
    elif btype == "highpass":
        w0 = float(warped)
        k = k * np.real(np.prod(-z) / np.prod(-p))
        z, p = w0 / z, w0 / p
        z = np.concatenate([z, np.zeros(len(p) - len(z))])
    elif btype == "bandpass":
        w1, w2 = float(warped[0]), float(warped[1])
        bw, wo = w2 - w1, np.sqrt(w1 * w2)
        deg = len(p) - len(z)
        z_lp, p_lp = z * bw / 2, p * bw / 2
        z = np.concatenate(
            [z_lp + np.sqrt(z_lp**2 - wo**2 + 0j), z_lp - np.sqrt(z_lp**2 - wo**2 + 0j)]
        )
        p = np.concatenate(
            [p_lp + np.sqrt(p_lp**2 - wo**2 + 0j), p_lp - np.sqrt(p_lp**2 - wo**2 + 0j)]
        )
        z = np.concatenate([z, np.zeros(deg)])
        k = k * bw**deg
    else:
        raise ValueError(btype)
    # bilinear transform (as in _butter_zpk)
    fs2 = 2.0 * fs
    z_d = (fs2 + z) / (fs2 - z)
    p_d = (fs2 + p) / (fs2 - p)
    deg = len(p) - len(z)
    z_d = np.concatenate([z_d, -np.ones(deg)])
    k_d = k * np.real(np.prod(fs2 - z) / np.prod(fs2 - p))
    return _zpk2sos_paired(z_d, p_d, k_d)


def _zpk2sos_paired(z: np.ndarray, p: np.ndarray, k: float) -> np.ndarray:
    """SOS with angle-matched pairing: conjugate pole pairs sorted by
    angle, each paired with the zero pair nearest in angle — the
    conditioning that matters when zeros are finite (elliptic)."""

    def pairs(roots):
        cplx = sorted(
            (r for r in roots if r.imag > 1e-12), key=lambda r: abs(np.angle(r))
        )
        real = sorted((r for r in roots if abs(r.imag) <= 1e-12), key=lambda r: r.real)
        out = [np.array([r, np.conj(r)]) for r in cplx]
        for i in range(0, len(real) - 1, 2):
            out.append(np.array([real[i], real[i + 1]]))
        if len(real) % 2:
            out.append(np.array([real[-1]]))
        return out

    zp, pp = pairs(z), pairs(p)
    n_sections = max(len(zp), len(pp))
    while len(zp) < n_sections:
        zp.append(np.array([]))
    while len(pp) < n_sections:
        pp.append(np.array([]))
    # greedy angle matching: for each pole pair (sorted), take the
    # unused zero pair with the closest representative angle
    used = [False] * len(zp)
    order = []
    for pi in pp:
        pa = abs(np.angle(pi[0])) if len(pi) else 0.0
        best, bd = None, None
        for j, zj in enumerate(zp):
            if used[j]:
                continue
            za = abs(np.angle(zj[0])) if len(zj) else 0.0
            d = abs(pa - za)
            if bd is None or d < bd:
                best, bd = j, d
        used[best] = True
        order.append(best)
    sos = np.zeros((n_sections, 6))
    for i, (pi, zi_idx) in enumerate(zip(pp, order)):
        b = _poly_from_roots(zp[zi_idx])
        a = _poly_from_roots(pi)
        b = np.pad(np.atleast_1d(np.real(b)), (0, 3 - len(np.atleast_1d(b))))
        a = np.pad(np.atleast_1d(np.real(a)), (0, 3 - len(np.atleast_1d(a))))
        sos[i, :3] = b
        sos[i, 3:] = a
    sos[0, :3] *= k
    return sos


import functools


@functools.lru_cache(maxsize=128)
def design_sos(
    dt: float,
    btype: str,
    fmin: float = 0.0,
    fmax: float = 0.0,
    N: int = 4,
    family: str = "butter",
    rp: float = 0.1,
    rs: float = 100.0,
) -> np.ndarray:
    """The design half of filter_data: Nyquist normalization + family
    dispatch → SOS coefficients.  Split out so the DuckDB value-oracle
    builders can embed the EXACT runtime coefficients as SQL literals.

    lru_cached (readonly result): grouped Arrow kernels call this once
    per SERIES per column, and at millions of tiny groups the repeated
    poly/root design work dominated the kernel itself.  Callers never
    mutate the sos array (writeable=False enforces it)."""
    nyq = (1.0 / dt) / 2.0
    if btype == "bandpass":
        Wn = [fmin / nyq, fmax / nyq]
    elif btype == "lowpass":
        Wn = fmax / nyq
    elif btype == "highpass":
        Wn = fmin / nyq
    else:
        raise ValueError(btype)
    if family == "butter":
        sos = butter_sos(N, Wn, btype)
    elif family == "ellip":
        sos = ellip_sos(N, rp, rs, Wn, btype)
    else:
        raise ValueError(f"unknown filter family {family!r}")
    sos.flags.writeable = False  # shared cached instance
    return sos


def filter_data(
    data: np.ndarray,
    dt: float,
    btype: str,
    fmin: float = 0.0,
    fmax: float = 0.0,
    N: int = 4,
    family: str = "butter",
    rp: float = 0.1,
    rs: float = 100.0,
) -> np.ndarray:
    """Zero-phase filter with the reference's Nyquist normalization and
    family dispatch (ts_library.py:836-894): family='butter' (default)
    or 'ellip' with rp/rs ripple parameters.  Both run as SOS cascades
    through the vectorized filtfilt (the reference applies ellip via
    transfer-function filtfilt; the SOS form is the numerically robust
    equivalent of the same design)."""
    sos = design_sos(dt, btype, fmin=fmin, fmax=fmax, N=N,
                     family=family, rp=rp, rs=rs)
    return sosfiltfilt(sos, data)


# ---------------------------------------------------------- resampling


def sinc_interp(data: np.ndarray, old_dt: float, new_dt: float) -> np.ndarray:
    """Whittaker–Shannon dense-matrix interpolation — the reference's
    non-integer resample path (ts_library.py:927-935).  O(n_old·n_new)
    memory: only for fixture-sized series, exactly like the original."""
    samples = len(data)
    old_times = np.arange(0, samples * old_dt, old_dt)
    if old_times.size == samples + 1:
        old_times = old_times[:-1]
    new_times = np.arange(0, samples * old_dt, new_dt)
    sinc_matrix = np.tile(new_times, (len(old_times), 1)) - np.tile(
        old_times[:, np.newaxis], (1, len(new_times))
    )
    return np.dot(data, np.sinc(sinc_matrix / old_dt))


def decimate(data: np.ndarray, q: int) -> np.ndarray:
    """Integer-factor downsample with zero-phase Chebyshev-I(8, 0.05,
    0.8/q) anti-aliasing — scipy.signal.decimate's default, the
    reference's fast path (ts_library.py:919-925)."""
    sos = cheby1_sos(8, 0.05, 0.8 / q)
    filtered = sosfiltfilt(sos, data)
    return filtered[::q]


def resample(data: np.ndarray, old_dt: float, new_dt: float) -> np.ndarray:
    """The reference's `interp` dispatch (ts_library.py:896-962):
    no-op / decimate / sinc."""
    if old_dt == new_dt:
        return np.asarray(data, dtype=np.float64)
    if new_dt % old_dt == 0.0:
        return decimate(data, int(new_dt // old_dt))
    return sinc_interp(data, old_dt, new_dt)


def pad_zeros_with_taper(x: np.ndarray, num: int, flag: str, m: int) -> np.ndarray:
    """seism_appendzeros (ts_library.py:481-525): Kaiser-taper the
    existing edge FIRST, then append ``num`` zeros at ``flag`` end."""
    x = np.asarray(x, dtype=np.float64)
    if num <= 0:
        return x
    if m != 0:
        x = x * taper_window(flag, m, len(x))
    zeros = np.zeros(num)
    return np.append(zeros, x) if flag == "front" else np.append(x, zeros)


def cut_with_taper(x: np.ndarray, num: int, flag: str, m: int) -> np.ndarray:
    """seism_cutting (ts_library.py:527-573): drop ``num`` samples from
    ``flag`` end, then Kaiser-taper the new edge.  No-op (like the
    reference's error path) if the cut would consume the series."""
    x = np.asarray(x, dtype=np.float64)
    if num <= 0 or num >= len(x):
        return x
    x = x[num:] if flag == "front" else x[:-num]
    return x * taper_window(flag, m, len(x))


def spline_second_derivs(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Natural cubic spline second derivatives (the reference's
    InterpSpline setup, rotd50/spline.f:1-34, natural-boundary branch
    y2[0]=y2[n-1]=0).  Thomas-algorithm sweep — sequential recurrence by
    nature (like `smooth`); a fixture-parity kernel, not the hot path."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(x)
    y2 = np.zeros(n)
    u = np.zeros(n)
    for i in range(1, n - 1):
        sig = (x[i] - x[i - 1]) / (x[i + 1] - x[i - 1])
        p = sig * y2[i - 1] + 2.0
        y2[i] = (sig - 1.0) / p
        u[i] = (
            6.0
            * (
                (y[i + 1] - y[i]) / (x[i + 1] - x[i])
                - (y[i] - y[i - 1]) / (x[i] - x[i - 1])
            )
            / (x[i + 1] - x[i - 1])
            - sig * u[i - 1]
        ) / p
    for k in range(n - 2, -1, -1):
        y2[k] = y2[k] * y2[k + 1] + u[k]
    return y2


def spline_interp(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Evaluate the natural cubic spline at query points (vectorized
    splint, rotd50/splint.f:1-25: bisection bracket + cubic blend)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xq = np.asarray(xq, dtype=np.float64)
    y2 = spline_second_derivs(x, y)
    hi = np.clip(np.searchsorted(x, xq), 1, len(x) - 1)
    lo = hi - 1
    h = x[hi] - x[lo]
    a = (x[hi] - xq) / h
    b = (xq - x[lo]) / h
    return a * y[lo] + b * y[hi] + (
        (a**3 - a) * y2[lo] + (b**3 - b) * y2[hi]
    ) * (h**2) / 6.0


def interp_fft(data: np.ndarray, factor: int) -> np.ndarray:
    """Band-limited upsample by an integer factor via spectrum zero-pad
    (the reference's InterpFreq, rotd50/ft_th.f:32-57: halve the Nyquist
    bin, conjugate-symmetric fill, inverse FFT) — expressed with rfft /
    irfft, which implements exactly that symmetry."""
    data = np.asarray(data, dtype=np.float64)
    n = len(data)
    spec = np.fft.rfft(data)
    if n % 2 == 0:
        spec[-1] *= 0.5  # split the Nyquist bin across ±f_nyq
    out = np.fft.irfft(spec, n=n * factor) * factor
    return out


# ------------------------------------------------------------ baseline


def polimod(x: np.ndarray, y: np.ndarray, n: int, m: int) -> np.ndarray:
    """Least-squares polynomial fit with the first m terms dropped
    (ts_library.py:575-617): columns x^(m+1) … x^n, normal equations.

    The 2-unknown case (order 3 with constant+linear dropped) solves by
    explicit Cramer instead of LAPACK: one fixed expression tree, so the
    result is bit-reproducible anywhere IEEE doubles are (the DuckDB
    value-oracle for signal_baseline_correct mirrors these exact ops)."""
    G = np.column_stack([x ** (j + 1 + m) for j in range(n - m)])
    GT = G.T
    A = GT @ G
    b = GT @ y
    if A.shape == (2, 2):
        a11, a12, a22 = A[0, 0], A[0, 1], A[1, 1]
        b1, b2 = b[0], b[1]
        det = a11 * a22 - a12 * a12
        return np.array([(b1 * a22 - b2 * a12) / det,
                         (a11 * b2 - a12 * b1) / det])
    return np.linalg.solve(A, b)


def baseline_correction(
    acc: np.ndarray, dt: float, gscale: float = 1.0, order: int = 5
):
    """Integrate acc→vel→dis (sequential trapezoid with half-step
    seeds), fit order-n polynomial to displacement without constant and
    linear terms, subtract the analytic poly/derivatives
    (ts_library.py:619-684).  Returns (times, amod, vmod, dmod)."""
    if order not in (3, 5, 10):
        raise ValueError("baseline order must be 3, 5, or 10")
    acc = np.asarray(acc, dtype=np.float64) * gscale
    times = np.linspace(0, (len(acc) - 1) * dt, len(acc))
    vel = integrate(acc, dt)
    dis = integrate(vel, dt)
    p = polimod(times, dis, order, 1)
    # p = [c2, c3, ..., c_order] (ascending powers starting at x^2)
    powers = np.arange(2, order + 1)
    dcor = sum(c * times**k for c, k in zip(p, powers))
    vcor = sum(c * k * times ** (k - 1) for c, k in zip(p, powers))
    acor = sum(c * k * (k - 1) * times ** (k - 2) for c, k in zip(p, powers))
    return times, (acc - acor) / gscale, vel - vcor, dis - dcor


# ------------------------------------------------------------- rotation


def rotate_pair(
    h1: np.ndarray,
    h2: np.ndarray,
    rotation_angle: float,
    angle_between: float = 90.0,
):
    """2×2 rotation of an orthogonal horizontal pair
    (ts_library.py:686-777); angle_between ∈ {90, 270}."""
    rad = np.radians(rotation_angle)
    if abs(angle_between) == 90:
        m = np.array(
            [[np.cos(rad), -np.sin(rad)], [np.sin(rad), np.cos(rad)]]
        )
    elif abs(angle_between) == 270:
        m = np.array(
            [[np.cos(rad), np.sin(rad)], [np.sin(rad), -np.cos(rad)]]
        )
    else:
        raise ValueError("channels must be orthogonal (90 or 270 apart)")
    n = min(len(h1), len(h2))
    out = m @ np.vstack([h1[:n], h2[:n]])
    return out[0], out[1]


# ------------------------------------------------------------------ FAS

# Below this FFT length the engine takes the fixed-op-order iterative
# radix-2 path (bit-replayable in SQL, same rule as the sosfilt /
# oscillator / smooth seq thresholds); above it np.fft (C pocketfft,
# fastest, pytest-pinned ≈ the iterative path at tolerance).
_FFT_EXACT_MAX = 4096


def fft_stage_base(s: int) -> tuple[float, float]:
    """Base twiddle of butterfly stage s (block size 2^s): the single
    transcendental pair (cos θ, sin θ), θ = -2π/2^s, from which the
    whole stage-s twiddle table is generated by pure IEEE multiplies.
    Exported so the DuckDB oracle can embed the SAME doubles as
    mantissa·2^exp literals and replay the recurrence."""
    import math

    th = -2.0 * math.pi / (1 << s)
    return math.cos(th), math.sin(th)


@_functools.lru_cache(maxsize=16)
def _fft_tables(points: int):
    """Bit-reversal permutation + per-stage twiddle tables for the
    fixed-op-order FFT.  Twiddles come from the Python-float recurrence
    w_0 = 1, w_k = w_{k-1}·base_s — each component one rounded IEEE
    multiply/add (no FMA, no per-k libm), so a SQL replay of the same
    recurrence reproduces the identical bits."""
    stages = points.bit_length() - 1
    rev = np.zeros(points, dtype=np.int64)
    for i in range(points):
        r, x = 0, i
        for _ in range(stages):
            r = (r << 1) | (x & 1)
            x >>= 1
        rev[i] = r
    tw = []
    for s in range(1, stages + 1):
        half = 1 << (s - 1)
        br, bi = fft_stage_base(s)
        wr, wi = [1.0], [0.0]
        for k in range(1, half):
            nr = wr[k - 1] * br - wi[k - 1] * bi
            ni = wr[k - 1] * bi + wi[k - 1] * br
            wr.append(nr)
            wi.append(ni)
        tw.append((np.asarray(wr), np.asarray(wi)))
    return rev, tw


def fft_radix2(x: np.ndarray, points: int) -> tuple[np.ndarray, np.ndarray]:
    """Iterative decimation-in-time radix-2 complex FFT of the real
    input x zero-padded/truncated to `points` (a power of two), kept as
    separate (re, im) float64 arrays so every butterfly is the exact
    4-multiply/2-add complex product — separate NumPy ufunc calls, each
    rounding once, never fused — giving ONE fixed IEEE op order that
    the staged DuckDB CTE fold replays bit-exactly (the np.fft
    butterflies have no pinned order; these do).  Vectorized per stage:
    log2(n) array passes, no per-sample Python."""
    if points & (points - 1):
        raise ValueError("points must be a power of two")
    rev, tw = _fft_tables(points)
    x = np.asarray(x, dtype=np.float64)
    re = np.zeros(points, dtype=np.float64)
    re[: min(x.size, points)] = x[:points]
    re = re[rev]
    im = np.zeros(points, dtype=np.float64)
    for s in range(1, points.bit_length()):
        half = 1 << (s - 1)
        wr, wi = tw[s - 1]
        re2 = re.reshape(-1, 2 * half)
        im2 = im.reshape(-1, 2 * half)
        er, orr = re2[:, :half], re2[:, half:]
        ei, oii = im2[:, :half], im2[:, half:]
        tr = orr * wr - oii * wi
        ti = orr * wi + oii * wr
        re = np.concatenate([er + tr, er - tr], axis=1).reshape(-1)
        im = np.concatenate([ei + ti, ei - ti], axis=1).reshape(-1)
    return re, im


def fas(data: np.ndarray, dt: float, points: int, fmin: float, fmax: float):
    """Fourier amplitude spectrum with frequency slice + smoothing
    (ts_library.py:411-437).  points ≤ _FFT_EXACT_MAX takes the
    fixed-op-order radix-2 path with the explicit sqrt(re²+im²)
    amplitude (np.abs on complex is libm hypot — not SQL-replayable);
    longer transforms use np.fft (pytest-pinned equal at tolerance)."""
    if points <= _FFT_EXACT_MAX and not (points & (points - 1)):
        re, im = fft_radix2(np.asarray(data, dtype=np.float64), points)
        afs = np.sqrt(re * re + im * im) * dt
    else:
        afs = np.abs(np.fft.fft(data, points)) * dt
    freq = (1.0 / dt) * np.arange(points) / points
    deltaf = (1.0 / dt) / points
    inif = int(fmin / deltaf)
    endf = int(fmax / deltaf) + 1
    return freq[inif:endf], smooth(afs[inif:endf])


def get_points(samples: int) -> int:
    """Next power of two above samples (ts_library.py:380-391)."""
    return 2 ** (int(np.log2(samples)) + 1)


def get_periods(tmin: float, tmax: float) -> np.ndarray:
    """20 log-spaced periods between tmin and tmax
    (ts_library.py:153-172)."""
    return np.power(10.0, np.linspace(np.log10(tmin), np.log10(tmax), 20))


# ----------------------------------------- response spectrum / RotD50


def oscillator_coeffs(w: float, beta: float, dt: float):
    """Nigam–Jennings exact-piecewise SDOF coefficients
    (calcrsp.f:102-135; published method: Nigam & Jennings, BSSA 1969)."""
    t1 = np.sqrt(1.0 - beta**2)
    t2 = np.sin(w * t1 * dt)
    t3 = np.cos(w * t1 * dt)
    t4 = np.exp(-beta * w * dt)
    s1 = (2.0 * beta**2 - 1.0) / (w**2 * dt)
    s2 = 2.0 * beta / (w**3 * dt)
    a11 = t4 * (beta * t2 / t1 + t3)
    a12 = t4 * t2 / (w * t1)
    a21 = -t4 * w * t2 / t1
    a22 = t4 * (t3 - beta * t2 / t1)
    b11 = t4 * ((s1 + beta / w) * t2 / (w * t1) + (s2 + 1.0 / w**2) * t3) - s2
    b12 = -t4 * (s1 * t2 / (w * t1) + s2 * t3) - 1.0 / w**2 + s2
    b21 = (s1 + beta / w) * (t3 - beta * t2 / t1)
    b21 = t4 * (b21 - (s2 + 1.0 / w**2) * (w * t1 * t2 + beta * w * t3)) + 1.0 / (
        w**2 * dt
    )
    b22 = s1 * (t3 - beta * t2 / t1)
    b22 = -t4 * (b22 - s2 * (w * t1 * t2 + beta * w * t3)) - 1.0 / (w**2 * dt)
    return (a11, a12, a21, a22), (b11, b12, b21, b22)


def oscillator_response_seq(
    x: np.ndarray, w: float, beta: float, dt: float
) -> np.ndarray:
    """Literal per-sample Nigam–Jennings loop (calcrsp.f:138-170) — the
    equivalence oracle for the vectorized `oscillator_response`."""
    (a11, a12, a21, a22), (b11, b12, b21, b22) = oscillator_coeffs(w, beta, dt)
    t2 = w**2
    d = v = a_prev = 0.0
    out = np.empty(len(x), dtype=np.float64)
    for i, ap1 in enumerate(np.asarray(x, dtype=np.float64)):
        dp1 = a11 * d + a12 * v + b11 * a_prev + b12 * ap1
        vp1 = a21 * d + a22 * v + b21 * a_prev + b22 * ap1
        out[i] = dp1 * t2
        a_prev, v, d = ap1, vp1, dp1
    return out


def oscillator_response(x: np.ndarray, w: float, beta: float, dt: float) -> np.ndarray:
    """Pseudo-acceleration response history rsp[i] = d[i+1]·w²
    (calcrsp.f:138-170) — vectorized.

    The 2-state Nigam–Jennings recurrence eliminates the velocity state
    into a single second-order recurrence in displacement:
        d[i+1] = tr·d[i] − det·d[i−1]
                 + b12·x[i] + (b11 + a12·b22 − a22·b12)·x[i−1]
                 + (a12·b21 − a22·b11)·x[i−2]
    with tr/det the trace/determinant of the state matrix (its poles),
    then evaluates it with `linear_recurrence2` — geometric scans instead
    of the per-sample Python loop that dominated the round-1 RotD50
    profile (63 periods × 2M samples ≈ 10⁸ interpreter iterations)."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n < 512:
        # short series: the literal loop beats the scan setup AND is a
        # fixed sequential chain of IEEE ops, which lets the DuckDB
        # oracle replay signal_rotd50_grid63 bit-exactly (the 2M-sample
        # production regime stays on the vectorized scan)
        return oscillator_response_seq(x, w, beta, dt)
    (a11, a12, a21, a22), (b11, b12, b21, b22) = oscillator_coeffs(w, beta, dt)
    tr = a11 + a22
    det = a11 * a22 - a12 * a21
    g = b12 * x
    g[1:] += (b11 + a12 * b22 - a22 * b12) * x[:-1]
    g[2:] += (a12 * b21 - a22 * b11) * x[:-2]
    return linear_recurrence2(tr, -det, g) * (w * w)


def calc_sa(x: np.ndarray) -> float:
    """Peak = max |x| (rotd50.f:272-281)."""
    return float(np.max(np.abs(x))) if len(x) else 0.0


ROTD50_PERIODS = np.array(
    [0.01, 0.02, 0.03, 0.05, 0.075, 0.1, 0.15, 0.2, 0.25, 0.3, 0.4, 0.5,
     0.75, 1.0, 1.5, 2.0, 3.0, 4.0, 5.0, 7.5, 10.0]
)  # a practical subset of the fixed 63-period grid (rotd50.f:36-45)

ROTD50_PERIODS_FULL = np.array(
    [0.010, 0.011, 0.012, 0.013, 0.015, 0.017, 0.020, 0.022, 0.025, 0.029,
     0.032, 0.035, 0.040, 0.045, 0.050, 0.055, 0.060, 0.065, 0.075, 0.085,
     0.100, 0.110, 0.120, 0.130, 0.150, 0.170, 0.200, 0.220, 0.240, 0.260,
     0.280, 0.300, 0.350, 0.400, 0.450, 0.500, 0.550, 0.600, 0.650, 0.750,
     0.850, 1.000, 1.100, 1.200, 1.300, 1.500, 1.700, 2.000, 2.200, 2.400,
     2.600, 2.800, 3.000, 3.500, 4.000, 4.400, 5.000, 5.500, 6.000, 6.500,
     7.500, 8.500, 10.000]
)  # the reference's EXACT 63-period response-spectrum domain
#    (rotd50.f:36-45, damping 0.05)


def rotd50(
    acc1: np.ndarray,
    acc2: np.ndarray,
    dt: float,
    periods: np.ndarray = ROTD50_PERIODS,
):
    """RotD50 per period: 5%-damped oscillator histories for both
    components, amplitude pre-filter at min(Sa)/1.5, 90 rotation angles
    → 180 Sa values, median = mean of sorted ranks 90/91
    (rotd50.f:185-235).
    Returns (psa_1, psa_2, rotd50) arrays over `periods`."""
    n = min(len(acc1), len(acc2))
    acc1, acc2 = np.asarray(acc1[:n]), np.asarray(acc2[:n])
    psa1 = np.empty(len(periods))
    psa2 = np.empty(len(periods))
    rd50 = np.empty(len(periods))
    for ip, period in enumerate(periods):
        w = 2.0 * np.pi / period
        th1 = oscillator_response(acc1, w, 0.05, dt)
        th2 = oscillator_response(acc2, w, 0.05, dt)
        sa1, sa2 = calc_sa(th1), calc_sa(th2)
        test = min(sa1, sa2) / 1.5
        mask = np.maximum(np.abs(th1), np.abs(th2)) > test
        r1, r2 = th1[mask], th2[mask]
        if r1.size == 0:
            # degenerate pair (all-zero histories): every rotation is
            # zero too — emit zeros instead of np.max-over-empty raising
            # and killing the whole grouped UDF stage
            psa1[ip], psa2[ip], rd50[ip] = sa1, sa2, 0.0
            continue
        angles = np.radians(np.arange(90) * (3.14159 / np.pi))  # Fortran's π
        cosr, sinr = np.cos(angles), np.sin(angles)
        # 90×n rotations in one matmul (the Fortran loop vectorized)
        xs = np.outer(cosr, r1) - np.outer(sinr, r2)
        ys = np.outer(sinr, r1) + np.outer(cosr, r2)
        sa = np.concatenate(
            [np.max(np.abs(xs), axis=1), np.max(np.abs(ys), axis=1)]
        )
        psa1[ip], psa2[ip] = sa[0], sa[90]
        sa.sort()
        rd50[ip] = (sa[89] + sa[90]) / 2.0  # Fortran Sa(90)+Sa(91), 1-based
    return psa1, psa2, rd50


def famp15(rd50_vals: np.ndarray, periods: np.ndarray) -> float | None:
    """First frequency where spectral shape ≥ 1.5 (rotd50.f:238-246;
    assumes periods ordered from the anchor onward)."""
    for i in range(1, len(periods)):
        if rd50_vals[i] / rd50_vals[0] >= 1.5:
            return 1.0 / periods[i]
    return None
