"""Per-layer probes that only the traced run makes.

Each probe times one layer in isolation (``noop`` sink, direct NumPy
codec calls, the leaf queries) or reads a layer's counters from Spark's
status store.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

import numpy as np

from leaves import LEAVES, leaf_digest, leaf_factories

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "leaves_pinned.json")


def noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def count_sorts(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bSort \[", plan))


def gapfill_rollup(run, raw, t1m_dir: str, t1h_dir: str) -> dict:
    """Gap-fill alone, then each tier's aggregate, into the noop sink."""
    from pyspark.sql import functions as F

    from ts_process_spark.operators.gapfill import gapfill_ts
    from ts_process_spark.operators.rollup import rollup_cascade, rollup_raw_to_1m

    spark, tr = run.spark, run.tr
    text = F.coalesce(F.col("text"), F.lit(""))
    slim = raw.select(
        "conv_id", "turn_idx", "ts",
        F.length(text).cast("long").alias("text_len"), F.xxhash64(text).alias("th"),
    )
    out = {}
    with tr.span("call:gapfill_ts", "layers"):
        g = gapfill_ts(slim)
    run.group("layer:gapfill")
    with tr.span("operators.gapfill", "layers"):
        out["gapfill.noop_s"] = noop_s(g)
    out["gapfill.sorts"] = count_sorts(gapfill_ts(slim))
    probes = {
        "rollup.t1m_noop_s": lambda: rollup_raw_to_1m(raw),
        "rollup.t1m_noblob_noop_s": lambda: rollup_raw_to_1m(raw).drop("ts_blob", "val_blob"),
        "rollup.t1h_noop_s": lambda: rollup_cascade(spark.read.parquet(t1m_dir), "1h"),
        "rollup.t1d_noop_s": lambda: rollup_cascade(spark.read.parquet(t1h_dir), "1d"),
    }
    for name, build in probes.items():
        with tr.span("call:rollup", "layers"):
            df = build()
        run.group(f"layer:{name}")
        with tr.span(name, "layers"):
            out[name] = noop_s(df)
    return out


def codecs(seed: int, convs: list[int]) -> dict:
    """Direct NumPy codec calls on the generated series, cut into the
    1m buckets the rollup encodes (known timestamps only)."""
    from ts_process_spark.datagen import gen_conv_pdf
    from ts_process_spark.functions.codecs import (
        decode_dod,
        decode_gorilla,
        encode_dod_batch,
        encode_gorilla_batch,
    )

    rng = np.random.default_rng([seed, 31])
    ts_parts, val_parts, lengths = [], [], []
    for k in rng.choice([k for k in convs if k % 199 != 3], 400, replace=False):
        pdf = gen_conv_pdf(int(k), seed).dropna(subset=["ts"])
        us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        vals = pdf["text"].str.len().to_numpy().astype(np.float64)
        _, counts = np.unique(us // 60_000_000, return_counts=True)
        ts_parts.append(us)
        val_parts.append(vals)
        lengths.append(counts)
    ts = np.concatenate(ts_parts)
    vals = np.concatenate(val_parts)
    lens = np.concatenate(lengths).astype(np.int64)
    n = len(ts)

    def per_point(fn, reps=5) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter_ns()
            fn()
            times.append(time.perf_counter_ns() - t0)
        return statistics.median(times) / n

    ts_blobs = encode_dod_batch(ts, lens)
    val_blobs = encode_gorilla_batch(vals, lens)
    return {
        "codecs.encode_dod_ns_per_point": per_point(lambda: encode_dod_batch(ts, lens)),
        "codecs.encode_gorilla_ns_per_point": per_point(lambda: encode_gorilla_batch(vals, lens)),
        "codecs.decode_dod_ns_per_point": per_point(lambda: [decode_dod(b) for b in ts_blobs], 3),
        "codecs.decode_gorilla_ns_per_point": per_point(
            lambda: [decode_gorilla(b) for b in val_blobs], 3
        ),
        "codecs.ts_bytes_per_point": sum(map(len, ts_blobs)) / n,
        "codecs.val_bytes_per_point": sum(map(len, val_blobs)) / n,
    }


def leaves(run) -> dict:
    """Each leaf in a fresh plan: the factory call (build), the output
    check against the pinned row count and hash (untimed; it also
    compiles the plan), then one warm run into the ``noop`` sink (timed)."""
    with open(PINNED) as f:
        pinned = json.load(f)["leaves"]
    tr = run.tr
    out = {}
    factories = leaf_factories(run.spark)
    for name in LEAVES:
        op = f"leaf:{name}"
        t0 = time.perf_counter()
        with tr.span("call:leaf", op):
            df = factories[name]()
        out[f"leaf.{name}_build_s"] = time.perf_counter() - t0
        run.group(f"check:{op}")
        with tr.span("action:digest", op):
            got = leaf_digest(df)
        want = (pinned[name]["rows"], pinned[name]["hash"])
        run.check(f"leaf {name}", got == want, f"{got} != pinned {want}")
        mark = run.store.mark()
        run.group(op)
        with tr.span(op, op):
            out[f"leaf.{name}_s"] = noop_s(df)
        w = run.store.since(mark).summary()
        out[f"leaf.{name}_jobs"] = w["jobs"]
        out[f"leaf.{name}_shuffle_bytes"] = w["shuffle_write_bytes"]
    out["leaf.total_s"] = sum(out[f"leaf.{n}_s"] for n in LEAVES)
    return out
