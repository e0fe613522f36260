"""Single-node pandas oracle for the tier cascade.

Independent re-implementation of the engine semantics (gap-fill exact
integer interp, minute/hour/day bucketing, tier aggregates) used to
verify the Spark engine — the analog of re-deriving ts-process kernels
from their formulas (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pandas as pd


def gapfill_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact integer linear interpolation of null ts per conv (mirrors
    operators/gapfill.py: floor division on int64 microseconds).  Rows
    are ordered by ``(turn_idx, ts)`` with null ts first, by a stable
    sort, and the neighbours of a null row are the nearest known ROWS
    before and after it — so a turn that arrives twice, once with ts
    lost, fills toward its known copy whatever the input order."""
    out = []
    for _, g in pdf.groupby("conv_id", sort=True):
        g = g.sort_values(
            ["turn_idx", "ts"], na_position="first", kind="stable"
        ).reset_index(drop=True)
        us = g["ts"].astype("datetime64[us]").astype("int64").where(g["ts"].notna())
        idx = g["turn_idx"].astype("int64").to_numpy()
        filled = np.empty(len(g), dtype="float64")
        gapped = np.zeros(len(g), dtype=bool)
        known = us.notna().to_numpy()
        known_rows = np.flatnonzero(known)
        for r in range(len(g)):
            if known[r]:
                filled[r] = us.iloc[r]
                continue
            gapped[r] = True
            left = known_rows[known_rows < r]
            right = known_rows[known_rows > r]
            if len(left) and len(right) and idx[right[0]] != idx[left[-1]]:
                pi, ni = idx[left[-1]], idx[right[0]]
                pu, nu = int(us.iloc[left[-1]]), int(us.iloc[right[0]])
                filled[r] = pu + ((nu - pu) * (idx[r] - pi)) // (ni - pi)
            elif len(left):
                filled[r] = us.iloc[left[-1]]
            elif len(right):
                filled[r] = us.iloc[right[0]]
            else:
                filled[r] = np.nan
        g = g.copy()
        g["ts_filled_us"] = filled
        g["gapfilled"] = gapped
        out.append(g[~np.isnan(filled)])
    return pd.concat(out, ignore_index=True)


def _bucket_us(us: np.ndarray, unit: str) -> np.ndarray:
    step = {"minute": 60, "hour": 3600, "day": 86400}[unit] * 1_000_000
    return (us.astype("int64") // step) * step


def tier_pdf(filled: pd.DataFrame, unit: str) -> pd.DataFrame:
    """Aggregate gap-filled turns straight to one tier grain. For the
    cascade test, the engine's 1h tier (built from its 1m tier) must
    equal this direct raw→1h oracle on every re-aggregable column."""
    f = filled.copy()
    f["bucket_us"] = _bucket_us(f["ts_filled_us"].astype("int64").to_numpy(), unit)
    f["text_len"] = f["text"].str.len().astype("int64")
    rows = []
    for (conv, b), g in f.groupby(["conv_id", "bucket_us"], sort=True):
        g = g.sort_values("turn_idx")
        n = len(g)
        first_us, last_us = int(g["ts_filled_us"].min()), int(g["ts_filled_us"].max())
        rows.append(
            {
                "conv_id": conv,
                "bucket_us": int(b),
                "n_turns": n,
                "n_gapfilled": int(g["gapfilled"].sum()),
                "sum_text_len": int(g["text_len"].sum()),
                "peak_text_len": int(g["text_len"].max()),
                "mean_text_len": g["text_len"].sum() / n,
                "first_turn_idx": int(g["turn_idx"].min()),
                "last_turn_idx": int(g["turn_idx"].max()),
                "first_us": first_us,
                "last_us": last_us,
                "mean_gap_s": (last_us - first_us) / 1e6 / (n - 1) if n > 1 else None,
                "ts_points": g["ts_filled_us"].astype("int64").tolist(),
                "val_points": g["text_len"].astype("float64").tolist(),
                "texts": g["text"].tolist(),
            }
        )
    return pd.DataFrame(rows)
