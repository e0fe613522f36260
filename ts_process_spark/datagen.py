"""Deterministic synthetic data generators.

Everything here is a pure function of ``(seed, conv index)`` — no wall
clock, no external data — so the same table materializes bit-identically
at any parallelism level (the local[8] vs local[32] scaling runs must be
byte-comparable) and the single-node pandas oracle in the tests can
regenerate any slice independently of Spark.

Schema (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Skew + gap features (FIXTURES.md F1):
- heavy-tailed conv lengths — a few "hot" conversations are 100–1000×
  longer than the median (a hot conversation's gap-fill runs in one
  task, ROADMAP direction 3);
- ~2% of turns have ``ts = NULL`` → linear-interpolation gap-fill
  (reference analog: resampling to a common dt,
  /root/reference/ts_process/ts_library.py:896-962);
- ~1% of convs get a multi-bucket silence (leading/interior/trailing).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

BASE_EPOCH_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z, fixed
_VOCAB = np.array(
    "the quick brown fox jumps over lazy dog spark roll tier turn query "
    "filter window gap fill peak median rotate taper baseline detrend "
    "signal sample bucket shard skew salt arrow pandas codec gorilla "
    "delta stamp trace agent tool call reply plan step result".split()
)
_TOOLS = np.array(
    ["search", "python", "browser", "shell", "sql", "calc", "files", "http"]
)
_ROLES = np.array(["user", "assistant", "tool"])

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def conv_length(conv_k: int, seed: int, median_turns: int = 20) -> int:
    """Heavy-tailed length, pure function of (seed, conv_k).

    Log-normal body with a deterministic "hot" stripe: every 199th conv is
    100–1000× the median (hot-conversation skew per BASELINE.json:14).
    """
    rng = np.random.default_rng([seed, conv_k, 7])
    base = max(2, int(rng.lognormal(mean=np.log(median_turns), sigma=0.8)))
    if conv_k % 199 == 3:
        base *= int(100 + 900 * rng.random())
    return base


def gen_conv_pdf(conv_k: int, seed: int = 42, median_turns: int = 20) -> pd.DataFrame:
    """One conversation as a pandas frame — the unit the oracle and the
    distributed generator share."""
    n = conv_length(conv_k, seed, median_turns)
    rng = np.random.default_rng([seed, conv_k])
    turn_idx = np.arange(n, dtype=np.int32)
    roles = _ROLES[(turn_idx + rng.integers(0, 3)) % 3]

    # text: 3–18 vocab words, deterministic per (conv, turn)
    n_words = rng.integers(3, 19, size=n)
    word_ids = rng.integers(0, len(_VOCAB), size=int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [
        " ".join(_VOCAB[word_ids[bounds[i] : bounds[i + 1]]]) for i in range(n)
    ]

    tool_mask = rng.random(n) < 0.2
    tools = np.where(tool_mask, _TOOLS[rng.integers(0, len(_TOOLS), size=n)], None)

    # timestamps: cumulative seeded inter-turn gaps, 0.5–120 s
    gaps_us = (rng.uniform(0.5, 120.0, size=n) * 1e6).astype(np.int64)
    gaps_us[0] = rng.integers(0, 86_400_000_000)  # conv start within 1 day
    # ~1% of convs: one multi-bucket silence (5–90 min) at a seeded spot
    if n > 4 and rng.random() < 0.01:
        gaps_us[rng.integers(1, n)] += rng.integers(300, 5400) * 1_000_000
    ts_us = BASE_EPOCH_US + np.cumsum(gaps_us)
    ts = pd.Series(ts_us.astype("datetime64[us]"))
    # ~2% missing ts (never the first/last turn so interior interp is
    # well-defined; leading/trailing nulls are exercised by dedicated tests)
    null_mask = rng.random(n) < 0.02
    null_mask[0] = False
    null_mask[-1] = False
    ts[null_mask] = pd.NaT

    return pd.DataFrame(
        {
            "conv_id": f"conv-{conv_k:08d}",
            "turn_idx": turn_idx,
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": ts,
        }
    )


def transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    median_turns: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed transcript table: ``spark.range(n_convs)`` fanned out
    through ``mapInPandas`` — each task generates whole conversations from
    the shared pure-function recipe, so output is independent of task
    placement and count."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for conv_k in pdf["id"].to_numpy():
                yield gen_conv_pdf(int(conv_k), seed, median_turns)

    rng = spark.range(n_convs)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)


# ---------------------------------------------------------------------------
# F2: seismogram-like numeric signal fixtures for the DSP kernel tests
# (reference recipe: sums of sines + seeded noise + optional drift;
#  /root/repo/FIXTURES.md F2, ts_library.py kernels)
# ---------------------------------------------------------------------------

SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType(), False),
        T.StructField("component", T.StringType(), False),
        T.StructField("orientation_deg", T.DoubleType(), True),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("dt", T.DoubleType(), False),
        T.StructField("acc", T.DoubleType(), False),
        T.StructField("vel", T.DoubleType(), False),
        T.StructField("dis", T.DoubleType(), False),
    ]
)

_FREQS = np.array([0.2, 0.5, 1.0, 2.0, 5.0, 10.0])


def gen_signal_pdf(
    case: str,
    component: str,
    n: int = 4096,
    drift: float = 0.0,
) -> pd.DataFrame:
    """vel(t) = Σ A_j sin(2π f_j t + φ_j) + noise + drift·t; acc/dis are
    the analytic derivative / trapezoid integral (ts_library.py:96-124)."""
    import zlib

    dt = 0.01
    comp_k = {"h1": 0, "h2": 1, "ver": 2}[component]
    # crc32, not hash(): Python's str hash is salted per process and would
    # break cross-run determinism.
    rng = np.random.default_rng([42, zlib.crc32(case.encode()), comp_k])
    t = np.arange(n) * dt
    amps = rng.uniform(0.1, 2.0, size=len(_FREQS))
    phases = rng.uniform(0, 2 * np.pi, size=len(_FREQS))
    vel = sum(
        a * np.sin(2 * np.pi * f * t + p) for a, f, p in zip(amps, _FREQS, phases)
    )
    vel = vel + rng.normal(0, 0.05, size=n) + drift * t
    acc = np.gradient(vel, dt)
    # trapezoidal integral with the reference's initial condition
    # dis[0] = vel[0]*dt/2 (ts_library.py:107)
    dis = np.concatenate([[0.0], np.cumsum((vel[1:] + vel[:-1]) / 2.0 * dt)])
    dis = dis + vel[0] * dt / 2.0
    orientation = {"h1": 0.0, "h2": 90.0, "ver": None}[component]
    return pd.DataFrame(
        {
            "series_id": f"{case}-{component}",
            "component": component,
            "orientation_deg": orientation,
            "i": np.arange(n, dtype=np.int32),
            "dt": dt,
            "acc": acc,
            "vel": vel,
            "dis": dis,
        }
    )


def signals(
    spark: SparkSession,
    cases: list[str] | None = None,
    n: int = 4096,
) -> DataFrame:
    cases = cases or ["lowpass", "highpass", "bandpass", "rotate30", "baseline"]
    pdfs = [
        gen_signal_pdf(c, comp, n=n, drift=0.3 if c == "baseline" else 0.0)
        for c in cases
        for comp in ("h1", "h2", "ver")
    ]
    return spark.createDataFrame(pd.concat(pdfs, ignore_index=True), SIGNAL_SCHEMA)
