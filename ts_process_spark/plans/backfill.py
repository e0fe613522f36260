"""Checkpoint-resumable tier backfill with per-partition lineage.

Design (SURVEY §7.5; BASELINE.json "resumable from checkpoint with
per-partition lineage + metrics"):

- **Partition unit = conversation hash-bucket**
  ``bucket_id = pmod(xxhash64(conv_id), n_buckets)`` — each unit holds
  *whole* conversations, so gap-fill (which needs a conv's neighbor
  turns) is self-contained per unit: no cross-partition overlap reads,
  no day-boundary interpolation hazards.  This is the local emulation of
  Iceberg's ``bucket(N, conv_id)`` partition transform; time-range
  pruning inside a bucket comes from parquet row-group stats after
  ``sortWithinPartitions(conv_id, bucket_ts)``.
- **Commit protocol**: for each pending (tier, bucket): write the tier
  partition directory (an idempotent full overwrite of that directory),
  THEN append the lineage record.  A crash between the two leaves a
  partition without lineage — the re-run simply overwrites it.  Lineage
  is the source of truth for completeness, never the data files.
- **Lineage row**: run_id, tier, bucket_id, n_buckets, rows_in,
  rows_out, value_hash (xor-fold of row xxhash64s — order-independent,
  cheap to verify), started/committed wall times.  ``resume`` =
  anti-join of the pending set against committed lineage keys, which
  is only sound under the same bucketing: a root whose records carry
  another ``n_buckets`` (or none) is refused before anything is
  written, since its committed buckets hold other conversations.
- **Counters come from the write itself.**  ``rows_out`` and
  ``value_hash`` are ``DataFrame.observe`` aggregates on the frame being
  written (the same ``count(1)`` / ``bit_xor(xxhash64(HASH_COLS))`` that
  ``count_and_hash`` computes on a read-back); a 1m unit's ``rows_in``
  is observed on its bucket's raw rows, a 1h/1d unit's is its parent
  unit's ``rows_out``.  No unit reads back what it wrote, and every
  partition read (the next tier's input, the resume path, the verify
  sweep) carries the explicit tier schema, so no schema-inference job
  runs: a unit is its write's two Spark jobs.  ``verify_lineage``
  stays the on-disk integrity check — it re-hashes every committed
  partition against its record.

On a real cluster this layer sits on Iceberg (snapshot ids instead of
directory overwrites); the jar is not in this sandbox, so the same
protocol is implemented over partitioned parquet directories — the
commit-ordering and resume logic is identical.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_process_spark.operators.rollup import (
    TIER_SCHEMA,
    rollup_cascade,
    rollup_raw_to_1m,
)

TIER_ORDER = ["1m", "1h", "1d"]

# on-disk schema of each tier's partitions: every partition read carries
# it, so reading one never runs a parquet schema-inference job.  The
# coarser tiers append rollup_cascade's leaf-chunk count (backfill never
# caps blobs, so there is no blob_chunks_dropped column)
_CASCADE_SCHEMA = T.StructType(
    TIER_SCHEMA.fields + [T.StructField("blob_n_chunks", T.LongType(), False)]
)
TIER_SCHEMAS = {"1m": TIER_SCHEMA, "1h": _CASCADE_SCHEMA, "1d": _CASCADE_SCHEMA}


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _count_and_hash_aggs(cols: list[str]) -> list[Column]:
    """The (row count, value_hash) aggregates: an order-independent
    bit-xor fold of per-row xxhash64 over the checked columns (blob
    columns excluded — codec correctness is tested separately, SURVEY
    §7.4.5).  Shared by the read-back check and the observed write, so
    the two give identical values."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("x"),
    ]


def count_and_hash(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, value_hash) in ONE Spark job: the aggregates are
    observed on a no-op write of the checked columns, so no shuffle
    stage runs (a global ``agg`` is two jobs)."""
    seen = Observation()
    df.select(*cols).observe(seen, *_count_and_hash_aggs(cols)).write.format(
        "noop"
    ).mode("overwrite").save()
    m = seen.get
    return int(m["n"]), int(m["x"])


HASH_COLS = [
    "conv_id",
    "bucket_ts",
    "n_turns",
    "n_gapfilled",
    "sum_text_len",
    "peak_text_len",
    "first_turn_idx",
    "last_turn_idx",
    "first_ts",
    "last_ts",
    "text_hash",
]


@dataclass
class TableSet:
    """Directory layout for one lineage of tier tables."""

    root: str

    def tier_dir(self, tier: str) -> str:
        return os.path.join(self.root, f"tier_{tier}")

    def partition_dir(self, tier: str, bucket_id: int) -> str:
        return os.path.join(self.tier_dir(tier), f"bucket_id={bucket_id}")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage.jsonl")

    def read_lineage(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self) -> set[tuple[str, int]]:
        return {(r["tier"], r["bucket_id"]) for r in self.read_lineage()}

    def append_lineage(self, rec: dict) -> None:
        # single-writer append; on Iceberg this is the snapshot commit
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def read_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return spark.read.parquet(self.tier_dir(tier))

    def read_partition(self, spark: SparkSession, tier: str, bucket_id: int) -> DataFrame:
        """One (tier, bucket) partition under the explicit tier schema.
        A file column whose type differs from the schema fails the read;
        a missing one reads as NULL, which changes the value hash."""
        return spark.read.schema(TIER_SCHEMAS[tier]).parquet(
            self.partition_dir(tier, bucket_id)
        )


def backfill(
    spark: SparkSession,
    raw: DataFrame,
    tables: TableSet,
    n_buckets: int = 8,
    fail_after: int | None = None,
    parallelism: int = 1,
) -> dict:
    """Run (or resume) the raw→1m→1h→1d cascade bucket by bucket.

    A resume must use the ``n_buckets`` the root was started with;
    any other value raises ``ValueError`` before a write.
    ``fail_after`` exists for the resume tests: the N-th (tier, bucket)
    unit writes its data and stops before its lineage commit,
    simulating a mid-backfill crash (serial mode only).  Returns
    {"committed": k, "skipped": s}, plus "crashed" after such a stop.

    ``parallelism > 1`` runs BUCKET CHAINS concurrently (round-2 VERDICT
    #6): buckets are independent by construction (whole conversations
    per bucket), so each worker thread drives its own chain of Spark
    jobs — tiers stay ordered within a bucket, the lineage append is the
    only serialized step (one lock), and each thread tags its jobs with
    a scheduler pool so a straggler bucket can't starve the rest.  The
    commit protocol (overwrite THEN lineage) is per unit and unchanged,
    so crash-resume semantics are identical at any parallelism.

    Each unit's lineage counters are observed during its write (see the
    module docstring), so a unit runs only its write's Spark jobs."""
    import threading

    run_id = uuid.uuid4().hex[:12]
    lineage = tables.read_lineage()
    other = {r.get("n_buckets") for r in lineage} - {n_buckets}
    if other:
        raise ValueError(
            f"{tables.root} holds units bucketed with n_buckets="
            f"{sorted(other, key=str)}; resuming with n_buckets={n_buckets} "
            "would duplicate rows"
        )
    if parallelism > 1 and fail_after is not None:
        raise ValueError("crash simulation requires parallelism=1")
    os.makedirs(tables.root, exist_ok=True)
    done = {(r["tier"], r["bucket_id"]): r for r in lineage}
    bucketed = with_bucket(raw, n_buckets)

    lock = threading.Lock()
    counts = {"committed": 0, "skipped": 0}

    def run_bucket(bucket_id: int) -> bool:
        """One bucket's tier chain; returns False on early stop."""
        if parallelism > 1:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"backfill-{bucket_id % parallelism}"
            )
        parent_rows = 0  # rows_out of the previous tier's unit
        for i, tier in enumerate(TIER_ORDER):
            key = (tier, bucket_id)
            if key in done:
                with lock:
                    counts["skipped"] += 1
                parent_rows = done[key]["rows_out"]
                continue
            started = time.time()
            # observation names are unique per unit: bucket chains run
            # their writes concurrently on one session
            tag = f"backfill:{run_id}:{tier}:{bucket_id}"
            if tier == "1m":
                seen = Observation(f"{tag}:in")
                src = bucketed.where(F.col("bucket_id") == bucket_id).drop("bucket_id")
                out = rollup_raw_to_1m(src.observe(seen, F.count(F.lit(1)).alias("n")))
            else:
                # the parent partition is read only here, where a tier
                # consumes it — never after the last tier's write
                seen = None
                parent = tables.read_partition(spark, TIER_ORDER[i - 1], bucket_id)
                out = rollup_cascade(parent, tier)
            written = Observation(f"{tag}:out")
            out = out.sortWithinPartitions("conv_id", "bucket_ts").observe(
                written, *_count_and_hash_aggs(HASH_COLS)
            )
            pdir = tables.partition_dir(tier, bucket_id)
            out.write.mode("overwrite").parquet(pdir)  # idempotent overwrite
            if fail_after is not None and counts["committed"] + 1 >= fail_after:
                # simulate a crash AFTER data write, BEFORE lineage commit:
                # the resume run must redo this unit
                counts["crashed"] = True
                return False
            stats = written.get
            if seen is None:
                rows_in = parent_rows
            elif stats["n"]:
                rows_in = seen.get["n"]
            else:
                # AQE replaces an input stage that produced no rows by an
                # empty relation, and drops its observed metrics with it:
                # count an empty unit's input directly
                rows_in = src.count()
            rec = {
                "run_id": run_id,
                "tier": tier,
                "bucket_id": bucket_id,
                "n_buckets": n_buckets,
                "rows_in": rows_in,
                "rows_out": stats["n"],
                "value_hash": stats["x"],
                "started_at": started,
                "committed_at": time.time(),
            }
            with lock:
                tables.append_lineage(rec)
                counts["committed"] += 1
            parent_rows = stats["n"]
        return True

    if parallelism <= 1:
        for bucket_id in range(n_buckets):
            if not run_bucket(bucket_id):
                break
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            list(pool.map(run_bucket, range(n_buckets)))
    return dict(counts)


def verify_lineage(spark: SparkSession, tables: TableSet) -> list[str]:
    """Re-hash every committed partition against its lineage record —
    the post-backfill on-disk integrity sweep, one Spark job per
    partition (the read carries the tier schema, so no schema-inference
    job runs)."""
    problems = []
    for rec in tables.read_lineage():
        part = tables.read_partition(spark, rec["tier"], rec["bucket_id"])
        n, vhash = count_and_hash(part, HASH_COLS)
        if n != rec["rows_out"]:
            problems.append(f"{rec['tier']}/{rec['bucket_id']}: rowcount drift")
        elif vhash != rec["value_hash"]:
            problems.append(f"{rec['tier']}/{rec['bucket_id']}: value hash drift")
    return problems
