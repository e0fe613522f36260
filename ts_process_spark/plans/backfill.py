"""Checkpoint-resumable tier backfill with per-partition lineage.

Design (SURVEY §7.5; BASELINE.json "resumable from checkpoint with
per-partition lineage + metrics"):

- **Partition unit = conversation hash-bucket**
  ``bucket_id = pmod(xxhash64(conv_id), n_buckets)`` — each unit holds
  *whole* conversations, so gap-fill is self-contained per unit: the
  local emulation of Iceberg's ``bucket(N, conv_id)`` transform.
- **One write per tier** over its pending buckets (no lineage record
  yet): the 1m tier from their raw rows, 1h/1d from one read of the
  parent tier pruned to them.  The write is partitioned by
  ``bucket_id`` (``tier_X/bucket_id=k/``) with dynamic partition
  overwrite, so committed buckets are never touched; a rebalance on
  ``bucket_id`` gives one file per bucket, sorted by (conv_id,
  bucket_ts) for row-group time pruning.
- **Commit protocol**: write the tier, THEN append its buckets' lineage
  records in one append.  A crash between the two leaves partitions
  without lineage, which the re-run overwrites: lineage, never the data
  files, is the source of truth for completeness.
- **Lineage row**: run_id, tier, bucket_id, n_buckets, rows_in,
  rows_out, value_hash (xor-fold of row xxhash64s — order-independent,
  cheap to verify), the tier's started/committed wall times.  A root
  whose records carry another ``n_buckets`` (or none) is refused before
  anything is written: its committed keys name other conversations.
- **Counters come from the write itself**: two conditional aggregates
  per pending bucket in one ``DataFrame.observe`` on the written frame
  (per bucket, what ``count_and_hash`` gives on a read-back); 1m
  ``rows_in`` is observed the same way on the raw rows, 1h/1d
  ``rows_in`` is the parent record's ``rows_out``.  Nothing is read
  back, tier reads carry the explicit tier schema and the session's
  ``RUNTIME_CONF`` lists up to 64 bucket directories on the driver, so
  a tier is its write's Spark jobs.  ``verify_lineage`` re-hashes
  every committed partition on disk.

On a real cluster this layer sits on Iceberg (snapshot ids instead of
directory overwrites); without the Iceberg runtime the same protocol
runs over partitioned parquet directories.
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

# on-disk schema of each tier's partitions: every tier read carries it,
# so reading one never runs a parquet schema-inference job.  The
# coarser tiers append rollup_cascade's leaf-chunk count
_CASCADE_SCHEMA = T.StructType(
    TIER_SCHEMA.fields + [T.StructField("blob_n_chunks", T.LongType(), False)]
)
TIER_SCHEMAS = {"1m": TIER_SCHEMA, "1h": _CASCADE_SCHEMA, "1d": _CASCADE_SCHEMA}


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def count_and_hash(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, value_hash) in ONE Spark job: an order-independent
    bit-xor fold of per-row xxhash64 over the checked columns (blob
    columns excluded — codec correctness is tested separately, SURVEY
    §7.4.5).  The aggregates are observed on a no-op write of the
    checked columns, so no shuffle stage runs (a global ``agg`` is two
    jobs)."""
    seen = Observation()
    df.select(*cols).observe(
        seen,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("x"),
    ).write.format("noop").mode("overwrite").save()
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


def _bucket_counts(buckets: list[int]) -> list[Column]:
    """Each bucket's row count, one conditional aggregate per bucket."""
    return [F.expr(f"count_if(bucket_id = {b}) AS n{b}") for b in buckets]


def _observe_buckets(df: DataFrame, buckets: list[int]) -> tuple[DataFrame, Observation]:
    """``df`` observed with each bucket's (row count, value_hash): per
    bucket, what ``count_and_hash(df restricted to it, HASH_COLS)``
    gives, for every bucket in the one pass.  The per-row hash is
    computed once and dropped after ``observe``."""
    seen = Observation()
    hashes = [
        F.expr(f"coalesce(bit_xor(CASE WHEN bucket_id = {b} THEN _h END), 0) AS x{b}")
        for b in buckets
    ]
    hashed = df.selectExpr("*", f"xxhash64({', '.join(HASH_COLS)}) AS _h")
    return hashed.observe(seen, *_bucket_counts(buckets), *hashes).drop("_h"), seen


def _bucket_stats(seen: Observation, buckets: list[int]) -> dict[int, tuple[int, int]]:
    m = seen.get
    return {b: (int(m[f"n{b}"]), int(m[f"x{b}"])) for b in buckets}


def read_jsonl(path: str) -> list[dict]:
    """The records of a JSON-lines lineage file; [] before its first
    append."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def append_jsonl(path: str, recs: list[dict]) -> None:
    """Append ``recs`` to a JSON-lines lineage file in one write."""
    # single-writer append; on Iceberg this is the snapshot commit.
    # Serialized before the file opens: a record that fails to encode
    # commits none of the records
    lines = "".join(json.dumps(r) + "\n" for r in recs)
    with open(path, "a") as f:
        f.write(lines)


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
        return read_jsonl(self.lineage_path)

    def committed(self) -> set[tuple[str, int]]:
        return {(r["tier"], r["bucket_id"]) for r in self.read_lineage()}

    def append_lineage(self, recs: list[dict]) -> None:
        append_jsonl(self.lineage_path, recs)

    def read_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return spark.read.parquet(self.tier_dir(tier))

    def read_buckets(self, spark: SparkSession, tier: str, buckets: list[int]) -> DataFrame:
        """The tier's rows in ``buckets``, with their ``bucket_id``, under
        the explicit tier schema; partition pruning skips every other
        bucket.  A file column whose type differs from the schema fails
        the read; a missing one reads as NULL, which changes the value
        hash.  A bucket (or tier) without a directory reads as no rows."""
        schema = T.StructType(
            TIER_SCHEMAS[tier].fields + [T.StructField("bucket_id", T.IntegerType())]
        )
        if not os.path.isdir(self.tier_dir(tier)):
            return spark.createDataFrame([], schema)
        return (
            spark.read.schema(schema)
            .parquet(self.tier_dir(tier))
            .where(F.col("bucket_id").isin(buckets))
        )


def backfill(
    spark: SparkSession,
    raw: DataFrame,
    tables: TableSet,
    n_buckets: int = 8,
    fail_after: int | None = None,
    parallelism: int = 1,
) -> dict:
    """Run (or resume) the raw→1m→1h→1d cascade: one write per tier over
    that tier's pending buckets, then one lineage append for them.

    A resume must use the ``n_buckets`` the root was started with;
    any other value raises ``ValueError`` before a write.
    ``fail_after`` exists for the resume tests: the tier whose write
    holds the N-th pending (tier, bucket) unit writes its data and stops
    before its lineage commit, simulating a mid-backfill crash.  Returns
    {"committed": k, "skipped": s} in units, plus "crashed" after such a
    stop.  ``parallelism`` is ignored: a tier is one write whatever its
    bucket count (the keyword stays for callers that pass it)."""
    run_id = uuid.uuid4().hex[:12]
    lineage = tables.read_lineage()
    other = {r.get("n_buckets") for r in lineage} - {n_buckets}
    if other:
        raise ValueError(
            f"{tables.root} holds units bucketed with n_buckets="
            f"{sorted(other, key=str)}; resuming with n_buckets={n_buckets} "
            "would duplicate rows"
        )
    os.makedirs(tables.root, exist_ok=True)
    rows_out = {(r["tier"], r["bucket_id"]): r["rows_out"] for r in lineage}
    counts = {"committed": 0, "skipped": 0}

    for i, tier in enumerate(TIER_ORDER):
        pending = [b for b in range(n_buckets) if (tier, b) not in rows_out]
        counts["skipped"] += n_buckets - len(pending)
        if not pending:
            continue
        started = time.time()
        if tier == "1m":
            seen = Observation()
            src = (
                with_bucket(raw, n_buckets)
                .observe(seen, *_bucket_counts(pending))
                .where(F.col("bucket_id").isin(pending))
            )
            out = rollup_raw_to_1m(src)
        else:
            # a lost parent partition would read as an empty bucket
            parent = TIER_ORDER[i - 1]
            lost = [b for b in pending if rows_out[(parent, b)]
                    and not os.path.isdir(tables.partition_dir(parent, b))]
            if lost:
                raise FileNotFoundError(f"{tables.tier_dir(parent)}: buckets {lost} lost")
            out = rollup_cascade(tables.read_buckets(spark, parent, pending), tier)
        out, written = _observe_buckets(
            with_bucket(out, n_buckets)
            .hint("rebalance", "bucket_id")
            .sortWithinPartitions("bucket_id", "conv_id", "bucket_ts"),
            pending,
        )
        # dynamic overwrite replaces only the partitions this write holds
        # rows for: committed buckets are never touched
        out.write.partitionBy("bucket_id").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(tables.tier_dir(tier))
        if fail_after is not None and counts["committed"] + len(pending) >= fail_after:
            # simulate a crash AFTER the data write, BEFORE the lineage
            # commit: the resume run must redo this tier's buckets
            counts["crashed"] = True
            break
        stats = _bucket_stats(written, pending)
        if tier != "1m":
            rows_in = {b: rows_out[(parent, b)] for b in pending}
        elif any(n for n, _ in stats.values()):
            m = seen.get
            rows_in = {b: m[f"n{b}"] for b in pending}
        else:
            # AQE replaces an input stage that produced no rows by an empty
            # relation and drops its observed metrics: count it directly
            rows_in = dict(src.groupBy("bucket_id").count().collect())
        committed_at = time.time()
        tables.append_lineage([
            dict(run_id=run_id, tier=tier, bucket_id=b, n_buckets=n_buckets,
                 rows_in=rows_in.get(b, 0), rows_out=n, value_hash=x,
                 started_at=started, committed_at=committed_at)
            for b, (n, x) in stats.items()
        ])
        rows_out.update(((tier, b), n) for b, (n, _) in stats.items())
        counts["committed"] += len(pending)
    return counts


def verify_lineage(spark: SparkSession, tables: TableSet) -> list[str]:
    """Re-hash every committed partition against its lineage record —
    the post-backfill on-disk integrity sweep.  Each tier is one
    observed no-op pass over its committed buckets (the read carries the
    tier schema, so no schema-inference job runs).  A committed bucket
    without a directory hashes as (0, 0): a lost partition reports as
    rowcount drift, an empty bucket (which writes no directory) passes."""
    recs = {(r["tier"], r["bucket_id"]): r for r in tables.read_lineage()}
    problems = []
    for tier in TIER_ORDER:
        buckets = sorted(b for t, b in recs if t == tier)
        if not buckets:
            continue
        part, seen = _observe_buckets(
            tables.read_buckets(spark, tier, buckets).select("bucket_id", *HASH_COLS),
            buckets,
        )
        part.write.format("noop").mode("overwrite").save()
        for b, (n, x) in _bucket_stats(seen, buckets).items():
            if n != recs[(tier, b)]["rows_out"]:
                problems.append(f"{tier}/{b}: rowcount drift")
            elif x != recs[(tier, b)]["value_hash"]:
                problems.append(f"{tier}/{b}: value hash drift")
    return problems
