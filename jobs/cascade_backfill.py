"""spark-submit entry point for the checkpoint-resumable tier cascade.

The north rule's deployment shape (BASELINE.json): the engine ships as a
--py-files archive and the job runs on a multi-executor cluster at two
cluster sizes.  Package and run:

    cd <repo> && zip -qr ts_process_spark.zip ts_process_spark
    spark-submit --master <cluster|local[N]> \\
        --py-files ts_process_spark.zip \\
        jobs/cascade_backfill.py \\
        --input  <raw transcript parquet dir | synth:<n_convs>> \\
        --root   <output tables root> \\
        --buckets 64

Each tier (1m, 1h, 1d) is one partitioned write over its pending
buckets, followed by one lineage append.  Re-running with the same
--root resumes: (tier, bucket) units already in the lineage log are
skipped; a unit whose data was written but whose lineage commit did not
land is redone idempotently (dynamic partition overwrite, which leaves
committed buckets untouched).

The session comes from spark-submit (master, parallelism and shuffle
partitions; AQE sizes the shuffles at run time), but the job fixes the
tier file format, as an Iceberg table property would: it calls
``session.pin_runtime`` (zstd level 6, INT64 microsecond timestamps,
UTC) after ``getOrCreate``, so a ``--conf`` cannot change it.  The JSON
report's ``tier_bytes`` is the ``.parquet`` bytes under each tier
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="raw transcript parquet dir, or synth:<n_convs> "
                         "for the seeded generator")
    ap.add_argument("--root", required=True, help="tier-table output root")
    ap.add_argument("--buckets", type=int, default=64,
                    help="conv_id hash buckets = resume granularity and "
                         "output partitions per tier; a resume must reuse "
                         "the root's value (any other is refused)")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ts_process_spark.plans.backfill import (
        TIER_ORDER,
        TableSet,
        backfill,
        verify_lineage,
    )
    from ts_process_spark.session import pin_runtime

    spark = SparkSession.builder.appName("ts-cascade-backfill").getOrCreate()
    pin_runtime(spark)

    if args.input.startswith("synth:"):
        from ts_process_spark.datagen import transcripts

        raw = transcripts(spark, n_convs=int(args.input.split(":", 1)[1]),
                          seed=args.seed)
    else:
        raw = spark.read.parquet(args.input)

    tables = TableSet(args.root)
    earlier_runs = {r["run_id"] for r in tables.read_lineage()}
    t0 = time.time()
    result = backfill(spark, raw, tables, n_buckets=args.buckets)
    wall = time.time() - t0
    problems = verify_lineage(spark, tables)
    tier_bytes = {
        t: sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(tables.tier_dir(t))
               for f in files if f.endswith(".parquet"))
        for t in TIER_ORDER
    }
    # count only this run's commits: on resume, turns that earlier runs
    # committed took none of this run's wall time
    n_turns = sum(r["rows_in"] for r in tables.read_lineage()
                  if r["tier"] == "1m" and r["run_id"] not in earlier_runs)
    print(json.dumps({
        "committed": result["committed"],
        "skipped": result["skipped"],
        "turns": n_turns,
        "wall_s": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1) if wall > 0 else None,
        "lineage_problems": problems,
        "tier_bytes": tier_bytes,
        "cores": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
