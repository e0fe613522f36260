"""Resume-protocol tests: kill the cascade mid-backfill, re-run, assert
identical final state and no double-processing (SURVEY §5.4)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_process_spark.datagen import transcripts
from ts_process_spark.operators.rollup import full_cascade
from ts_process_spark.plans.backfill import (
    HASH_COLS,
    TIER_ORDER,
    TableSet,
    backfill,
    verify_lineage,
    with_bucket,
)

N_CONVS = 8
N_BUCKETS = 4


@pytest.fixture(scope="module")
def raw(spark, tmp_path_factory):
    # a parquet input table, not cached: every backfill re-scans it, as
    # in production
    path = str(tmp_path_factory.mktemp("raw") / "turns")
    transcripts(spark, n_convs=N_CONVS, seed=3, median_turns=10).write.parquet(path)
    return spark.read.parquet(path)


def _tier_frame(df):
    return (
        df.select(
            "conv_id", "bucket_ts", "n_turns", "sum_text_len", "text_hash",
            F.md5("ts_blob").alias("tsb"), F.md5("val_blob").alias("vlb"),
        )
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )


def test_backfill_crash_and_resume(spark, raw, tmp_path):
    tables = TableSet(str(tmp_path / "t"))
    # crash after 5 units, after the 5th data write but before its lineage
    r1 = backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=5)
    assert r1.get("crashed")
    assert r1["committed"] == 4
    assert len(tables.committed()) == 4

    # resume: must redo the uncommitted 5th unit, skip the 4 committed
    earlier_runs = {r["run_id"] for r in tables.read_lineage()}
    r2 = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r2["skipped"] == 4
    assert r2["committed"] == 3 * N_BUCKETS - 4
    assert len(tables.committed()) == 3 * N_BUCKETS

    # the resumed run's records carry one new run_id (what
    # jobs/cascade_backfill.py counts throughput by), and their 1m
    # rows_in sums to the raw rows of the buckets that run committed
    mine = [r for r in tables.read_lineage() if r["run_id"] not in earlier_runs]
    assert len(mine) == r2["committed"]
    assert len({r["run_id"] for r in mine}) == 1
    mine_1m = {r["bucket_id"]: r["rows_in"] for r in mine if r["tier"] == "1m"}
    assert 0 < len(mine_1m) < N_BUCKETS
    want = (
        with_bucket(raw, N_BUCKETS)
        .where(F.col("bucket_id").isin(list(mine_1m)))
        .count()
    )
    assert sum(mine_1m.values()) == want

    # final tiers == direct full cascade (blobs and hashes included)
    direct = full_cascade(raw)
    for tier in ("1m", "1h", "1d"):
        got = _tier_frame(tables.read_tier(spark, tier))
        exp = _tier_frame(direct[tier])
        pd.testing.assert_frame_equal(got, exp)

    # idempotence: a third run does nothing and lineage doesn't grow
    n_lineage = len(tables.read_lineage())
    r3 = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r3["committed"] == 0 and r3["skipped"] == 3 * N_BUCKETS
    assert len(tables.read_lineage()) == n_lineage

    # integrity sweep
    assert verify_lineage(spark, tables) == []


def _tree(root):
    """(relative path → file bytes) of everything under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_resume_with_other_bucket_count_refused(spark, raw, tmp_path):
    """Lineage keys are (tier, bucket_id), so a resume that re-buckets
    would skip units whose conversations now hash elsewhere and write
    those conversations a second time.  A crash at 4 buckets resumed at
    8 must raise before it writes anything; so must a root whose
    records do not say how they were bucketed."""
    tables = TableSet(str(tmp_path / "t"))
    assert backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=5)[
        "crashed"
    ]
    assert {r["n_buckets"] for r in tables.read_lineage()} == {N_BUCKETS}
    before = _tree(tables.root)
    with pytest.raises(ValueError, match="n_buckets"):
        backfill(spark, raw, tables, n_buckets=2 * N_BUCKETS)
    assert _tree(tables.root) == before

    recs = tables.read_lineage()
    with open(tables.lineage_path, "w") as f:
        for r in recs:
            r.pop("n_buckets")
            f.write(json.dumps(r) + "\n")
    before = _tree(tables.root)
    with pytest.raises(ValueError, match="n_buckets"):
        backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert _tree(tables.root) == before


def test_lineage_detects_tamper(spark, raw, tmp_path):
    tables = TableSet(str(tmp_path / "t2"))
    backfill(spark, raw, tables, n_buckets=2)
    # overwrite one committed partition with wrong content
    victim = tables.partition_dir("1d", 0)
    tables.read_tier(spark, "1d").limit(1).write.mode("overwrite").parquet(victim)
    problems = verify_lineage(spark, tables)
    assert any("1d/0" in p for p in problems)


def test_backfill_parallel_matches_serial(spark, raw, tmp_path):
    """parallelism=4 must produce the SAME committed set and per-unit
    value hashes as the serial run (bucket chains are independent; the
    commit protocol is per unit), and resuming a parallel backfill must
    skip everything."""
    ser = TableSet(str(tmp_path / "ser"))
    par = TableSet(str(tmp_path / "par"))
    backfill(spark, raw, ser, n_buckets=N_BUCKETS)
    r = backfill(spark, raw, par, n_buckets=N_BUCKETS, parallelism=4)
    assert r["committed"] == 3 * N_BUCKETS

    def key_hashes(t):
        return {
            (rec["tier"], rec["bucket_id"]): (rec["rows_out"], rec["value_hash"])
            for rec in t.read_lineage()
        }

    assert key_hashes(par) == key_hashes(ser)
    assert verify_lineage(spark, par) == []

    r2 = backfill(spark, raw, par, n_buckets=N_BUCKETS, parallelism=4)
    assert r2["skipped"] == 3 * N_BUCKETS and r2["committed"] == 0

    with pytest.raises(ValueError):
        backfill(spark, raw, par, n_buckets=N_BUCKETS, parallelism=2, fail_after=1)


def _assert_counters_match_disk(spark, raw, tables, n_buckets):
    """Every lineage record's observed counters equal what a read-back
    of its partition gives — schema inferred and hashed by a plain
    aggregate, independent of the backfill's reader and of
    ``DataFrame.observe`` — and what its input holds: a 1m unit's
    rows_in == its bucket's raw rows, a 1h/1d unit's rows_in == its
    parent unit's rows_out."""
    recs = {(r["tier"], r["bucket_id"]): r for r in tables.read_lineage()}
    assert len(recs) == len(tables.read_lineage()) == 3 * n_buckets
    raw_rows = dict(
        with_bucket(raw, n_buckets).groupBy("bucket_id").count().collect()
    )
    for (tier, b), rec in recs.items():
        n, x = (
            spark.read.parquet(tables.partition_dir(tier, b))
            .agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*HASH_COLS)))
            .first()
        )
        assert (rec["rows_out"], rec["value_hash"]) == (n, x or 0), (tier, b)
        if tier == "1m":
            assert rec["rows_in"] == raw_rows.get(b, 0), (tier, b)
        else:
            parent = TIER_ORDER[TIER_ORDER.index(tier) - 1]
            assert rec["rows_in"] == recs[(parent, b)]["rows_out"], (tier, b)


@pytest.mark.parametrize("mode", ["serial", "parallel4", "resume"])
def test_lineage_counters_match_read_back(spark, raw, tmp_path, mode):
    """The counters observed during each write are the numbers the old
    read-back/count passes produced — at parallelism 1 and 4, and when a
    resume after a crash redoes a unit whose parent it skipped (that
    unit's rows_in comes from the parent's lineage record)."""
    tables = TableSet(str(tmp_path / mode))
    if mode == "resume":
        assert backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=5)[
            "crashed"
        ]
        r = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
        assert r == {"committed": 3 * N_BUCKETS - 4, "skipped": 4}
    else:
        par = 4 if mode == "parallel4" else 1
        r = backfill(spark, raw, tables, n_buckets=N_BUCKETS, parallelism=par)
        assert r == {"committed": 3 * N_BUCKETS, "skipped": 0}
    _assert_counters_match_disk(spark, raw, tables, N_BUCKETS)


def test_lineage_counters_with_empty_buckets(spark, raw, tmp_path):
    """More buckets than conversations: an empty bucket's units commit
    zero counters (AQE prunes the empty input stage together with its
    observed row count, so the empty unit counts its input directly)."""
    n_buckets = N_CONVS + 4
    tables = TableSet(str(tmp_path / "sparse"))
    backfill(spark, raw, tables, n_buckets=n_buckets, parallelism=4)
    _assert_counters_match_disk(spark, raw, tables, n_buckets)
    empty = [r for r in tables.read_lineage() if r["rows_out"] == 0]
    assert empty and all(r["value_hash"] == 0 for r in empty)


def test_backfill_jobs_per_unit(spark, raw, tmp_path):
    """A unit is its write: lineage counters are observed during the
    write, nothing is read back and no partition read infers a schema,
    so a serial backfill runs at most 2 Spark jobs (the shuffle map stage
    and the write) per (tier, bucket) unit, and verify_lineage 1."""
    sc = spark.sparkContext
    tables = TableSet(str(tmp_path / "t"))
    units = 3 * N_BUCKETS

    def jobs(name, fn):
        group = f"{name}-{tmp_path.name}"
        sc.setJobGroup(group, f"{name} job-count pin")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    r, n_jobs = jobs("backfill", lambda: backfill(spark, raw, tables, n_buckets=N_BUCKETS))
    assert r["committed"] == units
    assert n_jobs <= 2 * units
    problems, n_jobs = jobs("verify", lambda: verify_lineage(spark, tables))
    assert problems == [] and n_jobs <= units


def test_lineage_detects_schema_drift(spark, raw, tmp_path):
    """verify_lineage reads partitions with the explicit tier schema; a
    partition whose columns differ from it is still caught: a missing
    hashed column reads as NULL and is reported, a column of another
    type fails the read."""
    tables = TableSet(str(tmp_path / "t3"))
    backfill(spark, raw, tables, n_buckets=2)
    assert verify_lineage(spark, tables) == []
    victim = tables.partition_dir("1h", 0)
    original = str(tmp_path / "original")
    tables.read_partition(spark, "1h", 0).write.parquet(original)
    spark.read.parquet(original).drop("text_hash").write.mode("overwrite").parquet(victim)
    assert any("1h/0" in p for p in verify_lineage(spark, tables))
    spark.read.parquet(original).withColumn(
        "n_turns", F.col("n_turns").cast("string")
    ).write.mode("overwrite").parquet(victim)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        verify_lineage(spark, tables)
