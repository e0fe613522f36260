"""The benchmark's workloads, their inputs and their output checks.

Both workloads write the raw → 1m → 1h → 1d tiers from the same kind of
seeded transcript table; their traced runs then serve a seeded mix of
point lookups and hour scans from the written 1h tier:

- ``cascade``: the single-job cascade, one parquet write per tier, read
  back unbucketed.  No backfill orchestration runs.
- ``backfill_serve``: ``plans.backfill`` into a fresh ``TableSet``
  (4 buckets), a resume that must skip every unit, ``verify_lineage``;
  lookups are pruned by ``bucket_id``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

TARGET_TURNS = 100_000  # raw turns per run, whatever the seed
HOT_CAP = 10_000  # longest hot conversation kept
N_BUCKETS = 4  # 3 × 4 units, 84 Spark jobs per backfill
N_LOOKUPS = 40  # p75 then has 10 lookups beyond it
N_SCANS = 10
N_WARM_LOOKUPS = 20  # untimed requests before the timed mix
TIERS = ("1m", "1h", "1d")
HOUR_US = 3_600_000_000


def choose_convs(seed: int) -> list[int]:
    """Conversation ids 0, 1, 2, ... of the seeded transcript table until
    the turns reach ``TARGET_TURNS``, leaving out hot conversations longer
    than ``HOT_CAP`` turns.

    Lengths are heavy-tailed (every 199th conversation is 100–1000× the
    median), so the first n conversations would vary the input size and
    its largest conversation several-fold between seeds."""
    from ts_process_spark.datagen import conv_length

    convs, total, k = [], 0, 0
    while total < TARGET_TURNS:
        n = conv_length(k, seed)
        if not (is_hot(k) and n > HOT_CAP):
            convs.append(k)
            total += n
        k += 1
    return convs


def is_hot(k: int) -> bool:
    return k % 199 == 3


def write_part(part: tuple[str, list[int], int]) -> int:
    """One parquet file of transcript rows (runs in a worker process)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ts_process_spark.datagen import gen_conv_pdf

    path, convs, seed = part
    schema = pa.schema([
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ])
    pdf = pd.concat([gen_conv_pdf(k, seed) for k in convs])
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path,
        compression="zstd",
    )
    return len(pdf)


class Run:
    """State of one benchmark run: session, seed, tracer, counters."""

    def __init__(self, spark, work: str, seed: int, cores: int, tracer, store):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.tr, self.store = tracer, store
        self.attempted = 0
        self.failed = 0
        self.tagging = tracer.enabled  # job groups for the status store

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {what}: {detail}", file=sys.stderr, flush=True)
        return ok

    def group(self, name: str) -> None:
        """Tag the next Spark jobs (traced runs only)."""
        if self.tagging:
            self.spark.sparkContext.setJobGroup(name, name)

    # ---------------------------------------------------------------- inputs
    def write_raw(self, path: str, convs: list[int]) -> int:
        """Write the seeded transcript rows of ``convs`` (the rows
        ``datagen.transcripts`` makes for them, from
        ``datagen.gen_conv_pdf``) as 2×cores parquet files, generated by
        ``cores`` worker processes; returns the number of turns.  This
        skips the first-job start-up a distributed generator pays in
        every run."""
        os.makedirs(path, exist_ok=True)
        files = [
            [os.path.join(path, f"part-{f:05d}.parquet"), [int(k) for k in part], self.seed]
            for f, part in enumerate(np.array_split(np.asarray(convs), 2 * self.cores))
            if len(part)
        ]
        with self.tr.span("datagen.gen_conv_pdf", "setup"):
            procs = [
                subprocess.Popen(
                    [sys.executable, os.path.abspath(__file__), json.dumps(files[w :: self.cores])],
                    stdout=subprocess.PIPE, text=True,
                )
                for w in range(self.cores)
            ]
            outs = [p.communicate()[0] for p in procs]
        if any(p.returncode for p in procs):
            raise RuntimeError("transcript generation failed")
        return sum(int(o) for o in outs)

    # --------------------------------------------------------------- cascade
    def cascade_once(self, raw, out: str, op: str) -> float:
        """raw → 1m → 1h → 1d, each tier written to parquet; wall seconds."""
        from ts_process_spark.operators.rollup import rollup_cascade, rollup_raw_to_1m

        spark, tr = self.spark, self.tr
        t0 = time.perf_counter()
        child = raw
        for tier in TIERS:
            path = os.path.join(out, f"tier_{tier}")
            with tr.span(f"rollup.t{tier}_write", op):
                with tr.span("call:rollup", op):
                    df = (
                        rollup_raw_to_1m(child)
                        if tier == "1m"
                        else rollup_cascade(child, tier)
                    )
                self.group(f"{op}:{tier}")
                with tr.span("action:write", op):
                    df.write.mode("overwrite").parquet(path)
            child = spark.read.parquet(path)
        return time.perf_counter() - t0

    # ----------------------------------------------------------------- serve
    def serve_mix(self, convs: list[int], n_lookups: int, n_scans: int, salt: int):
        rng = np.random.default_rng([self.seed, salt])
        mix = [("lookup", int(k)) for k in rng.choice(convs, n_lookups)]
        mix += [("scan", int(h)) for h in rng.integers(1, 24, n_scans)]
        return [mix[i] for i in rng.permutation(len(mix))]

    def serve(self, t1h, convs: list[int], bucketed: bool, warm: bool = False):
        """Run the request mix against the 1h tier.  Returns one
        ``(kind, latency ms, spans recorded)`` per request execution and
        the number of rows the lookup executions returned.

        A traced run executes each timed request twice in a row, once with
        spans and once without, alternating which goes first, so the two
        sets of latencies cover the same requests in balanced order and
        their difference is the tracing overhead."""
        mix = (
            self.serve_mix(convs, N_WARM_LOOKUPS, 2, 19) if warm
            else self.serve_mix(convs, N_LOOKUPS, N_SCANS, 17)
        )
        enabled = self.tr.enabled
        requests = []
        rows_returned = 0
        for i, (kind, arg) in enumerate(mix):
            order = (False,) if warm else (True, False) if i % 2 == 0 else (False, True)
            for traced in order:
                self.tr.enabled = enabled and traced
                ms, rows = self._request(t1h, bucketed, kind, arg, f"{kind}{i}")
                requests.append((kind, ms, self.tr.enabled))
                rows_returned += len(rows) if kind == "lookup" else 0
            self.tr.enabled = enabled
        return requests, rows_returned

    def _request(self, t1h, bucketed: bool, kind: str, arg: int, op: str):
        """One lookup or hour scan, checked; (latency ms, result rows)."""
        from pyspark.sql import functions as F

        from ts_process_spark.datagen import BASE_EPOCH_US, conv_length
        from ts_process_spark.functions.codecs import decode_dod, decode_gorilla

        t0 = time.perf_counter()
        with self.tr.span(f"read.{kind}", op):
            self.group(kind)
            if kind == "lookup":
                conv = f"conv-{arg:08d}"
                q = t1h.where(F.col("conv_id") == conv)
                if bucketed:
                    q = q.where(
                        F.col("bucket_id")
                        == F.pmod(F.xxhash64(F.lit(conv)), F.lit(N_BUCKETS))
                    )
                with self.tr.span("action:collect", op):
                    rows = q.select(
                        "n_turns", "sum_text_len", "first_ts", "last_ts",
                        "ts_blob", "val_blob",
                    ).collect()
                with self.tr.span("codecs.decode", op):
                    decoded = [
                        (r, decode_dod(r["ts_blob"]), decode_gorilla(r["val_blob"]))
                        for r in rows
                    ]
            else:
                hour = BASE_EPOCH_US // HOUR_US * HOUR_US + arg * HOUR_US
                with self.tr.span("action:collect", op):
                    rows = (
                        t1h.where(F.col("bucket_ts") == F.timestamp_micros(F.lit(hour)))
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.sum("n_turns").alias("turns"),
                            F.sum("sum_text_len").alias("chars"),
                        )
                        .collect()
                    )
        ms = (time.perf_counter() - t0) * 1e3
        if kind == "lookup":
            self._check_lookup(arg, decoded, conv_length(arg, self.seed))
        else:
            self.check(
                f"scan hour {arg}",
                len(rows) == 1 and rows[0]["n"] > 0 and rows[0]["turns"] >= rows[0]["n"],
                str(rows),
            )
        return ms, rows

    def _check_lookup(self, k: int, decoded, n_conv_turns: int) -> None:
        bad = []
        for r, ts, vals in decoded:
            n = r["n_turns"]
            if len(ts) != n or len(vals) != n:
                bad.append(f"{len(ts)}/{len(vals)} points for n_turns={n}")
            elif int(vals.sum()) != r["sum_text_len"]:
                bad.append("decoded values do not sum to sum_text_len")
            elif n and (
                ts.min() < _us(r["first_ts"]) or ts.max() > _us(r["last_ts"])
            ):
                bad.append("decoded ts outside [first_ts, last_ts]")
        total = sum(r["n_turns"] for r, _, _ in decoded)
        if total != n_conv_turns:
            bad.append(f"{total} turns in 1h rows, generator made {n_conv_turns}")
        self.check(f"lookup conv {k}", not bad, "; ".join(bad[:3]))

    # ---------------------------------------------------------------- checks
    def check_turns_conserved(self, tiers: dict, n_turns: int) -> None:
        """Every tier holds every raw turn once (each generated
        conversation has a known first and last ts, so none is dropped)."""
        from pyspark.sql import functions as F

        for tier, df in tiers.items():
            self.group(f"check:{tier}")
            got = df.agg(F.sum("n_turns")).first()[0]
            self.check(f"tier {tier} turn count", got == n_turns, f"{got} != {n_turns}")

    def check_oracle(self, tiers: dict, convs: list[int]) -> None:
        """A seeded sample of conversations against tests/oracle.py:
        three ordinary ones at every tier and one hot one at 1h and 1d
        (the pandas oracle walks one group at a time, and a hot
        conversation has thousands of minutes)."""
        from pyspark.sql import functions as F

        from tests.oracle import gapfill_pdf, tier_pdf
        from ts_process_spark.datagen import gen_conv_pdf
        from ts_process_spark.functions.codecs import decode_dod, decode_gorilla

        rng = np.random.default_rng([self.seed, 29])
        normal = [k for k in convs if not is_hot(k)]
        hot = [k for k in convs if is_hot(k)]
        sample = {int(k): TIERS for k in rng.choice(normal, 3, replace=False)}
        if hot:
            sample[int(rng.choice(hot))] = ("1h", "1d")
        units = {"1m": "minute", "1h": "hour", "1d": "day"}
        for tier in TIERS:
            convs = [k for k, ts in sample.items() if tier in ts]
            self.group(f"check:oracle:{tier}")
            got_rows = (
                tiers[tier]
                .where(F.col("conv_id").isin([f"conv-{k:08d}" for k in convs]))
                .select(
                    "conv_id", "bucket_ts", "n_turns", "n_gapfilled", "sum_text_len",
                    "peak_text_len", "first_turn_idx", "last_turn_idx", "first_ts",
                    "last_ts", "ts_blob", "val_blob",
                )
                .collect()
            )
            for k in convs:
                conv = f"conv-{k:08d}"
                exp = tier_pdf(gapfill_pdf(gen_conv_pdf(k, self.seed)), units[tier])
                got = sorted(
                    (r for r in got_rows if r["conv_id"] == conv),
                    key=lambda r: r["bucket_ts"],
                )
                self.check(
                    f"oracle conv {k} tier {tier}",
                    _matches(got, exp, decode_dod, decode_gorilla),
                    f"{len(got)} engine rows vs {len(exp)} oracle rows",
                )


def _us(ts) -> int:
    import calendar

    return calendar.timegm(ts.utctimetuple()) * 1_000_000 + ts.microsecond


def _matches(got, exp, decode_dod, decode_gorilla) -> bool:
    if len(got) != len(exp):
        return False
    for r, (_, e) in zip(got, exp.iterrows()):
        fields = (
            (_us(r["bucket_ts"]), e["bucket_us"]),
            (r["n_turns"], e["n_turns"]),
            (r["n_gapfilled"], e["n_gapfilled"]),
            (r["sum_text_len"], e["sum_text_len"]),
            (r["peak_text_len"], e["peak_text_len"]),
            (r["first_turn_idx"], e["first_turn_idx"]),
            (r["last_turn_idx"], e["last_turn_idx"]),
            (_us(r["first_ts"]), e["first_us"]),
            (_us(r["last_ts"]), e["last_us"]),
        )
        if any(int(a) != int(b) for a, b in fields):
            return False
        if decode_dod(r["ts_blob"]).tolist() != list(e["ts_points"]):
            return False
        if decode_gorilla(r["val_blob"]).tolist() != list(e["val_points"]):
            return False
    return True



if __name__ == "__main__":
    # a transcript-generation worker: writes the files it is given and
    # prints their turn count
    print(sum(write_part(part) for part in json.loads(sys.argv[1])))
