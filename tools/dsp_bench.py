"""Kernel-level evidence for the vectorized DSP recurrences: time the
geometric-scan kernels against their literal sequential twins (*_seq)
at the reference's working scale (2M samples — its hard cap,
/root/reference/ts_process/rotd50/rotd50.f:24 — and the 63-period
response-spectrum grid) and verify output equality.

Writes one JSON line per kernel to stdout and appends a summary to
BENCH/DSP.md.  The Spark-level benchmarks (perfbench/run.py, bench.py)
use fixture-sized series where group/shuffle overheads dominate; this
bench isolates the kernel cost that dominates at the reference's real
sizes.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
import sys

sys.path.insert(0, REPO)

from ts_process_spark.functions import dsp  # noqa: E402


def main() -> None:
    rng = np.random.default_rng(42)
    n = 2_000_000
    x = rng.normal(size=n)
    dt = 0.01
    results = {}

    # oscillator: one representative period, then the full 63-grid scan path
    w = 2 * np.pi / 1.0
    t0 = time.time()
    fast = dsp.oscillator_response(x, w, 0.05, dt)
    t_fast = time.time() - t0
    t0 = time.time()
    seq = dsp.oscillator_response_seq(x[:200_000], w, 0.05, dt)
    t_seq = (time.time() - t0) * (n / 200_000)  # extrapolated, loop is O(n)
    err = float(np.max(np.abs(fast[:200_000] - seq)) / max(1.0, np.max(np.abs(seq))))
    results["oscillator_2M"] = {
        "scan_sec": round(t_fast, 3),
        "seq_sec_extrapolated": round(t_seq, 3),
        "speedup": round(t_seq / t_fast, 1),
        "rel_err_vs_seq": err,
    }

    t0 = time.time()
    for p in dsp.ROTD50_PERIODS_FULL:
        dsp.oscillator_response(x, 2 * np.pi / p, 0.05, dt)
    t63 = time.time() - t0
    results["oscillator_2M_x63_periods"] = {
        "scan_sec": round(t63, 2),
        "seq_sec_extrapolated": round(t_seq * 63, 1),
    }

    sos = dsp.butter_sos(4, 0.1, "lowpass")
    t0 = time.time()
    yf = dsp.sosfiltfilt(sos, x)
    t_ff = time.time() - t0
    t0 = time.time()
    ys, _ = dsp.sosfilt_seq(sos, x[:100_000])
    t_ffs = (time.time() - t0) * (n / 100_000) * 2  # fwd+bwd passes
    yfast, _ = dsp.sosfilt(sos, x[:100_000])
    scale = max(1.0, float(np.max(np.abs(ys))))
    results["filtfilt_butter4_2M"] = {
        "scan_sec": round(t_ff, 3),
        "seq_sec_extrapolated": round(t_ffs, 2),
        "speedup": round(t_ffs / t_ff, 1),
        "rel_err_vs_seq": float(np.max(np.abs(yfast - ys)) / scale),
    }

    print(json.dumps(results))
    md = os.path.join(REPO, "BENCH", "DSP.md")
    with open(md, "w") as f:
        f.write(
            "# Kernel bench — vectorized recurrences vs literal loops\n\n"
            "2M-sample input (the reference's hard cap, rotd50.f:24), "
            "measured on this host; *_seq are the literal reference loops "
            "kept as equivalence oracles (pinned to ~1e-10 by "
            "tests/test_dsp.py).\n\n"
            "| kernel | scan (s) | sequential (s, extrapolated) | speedup |\n"
            "|---|---|---|---|\n"
        )
        for k, v in results.items():
            sp = v.get("speedup", "")
            f.write(
                f"| {k} | {v['scan_sec']} | {v['seq_sec_extrapolated']} | {sp} |\n"
            )
        f.write(
            "\nEquality: max relative deviation vs the sequential loop "
            f"{results['oscillator_2M']['rel_err_vs_seq']:.2e} (oscillator), "
            f"{results['filtfilt_butter4_2M']['rel_err_vs_seq']:.2e} (sosfilt).\n"
        )


if __name__ == "__main__":
    main()
