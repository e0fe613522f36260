"""Resume-protocol tests: kill the cascade mid-backfill, re-run, assert
identical final state and no double-processing (SURVEY §5.4)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from urllib.parse import urlparse

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_process_spark.datagen import transcripts
from ts_process_spark.operators.rollup import TIER_SCHEMA, full_cascade
from ts_process_spark.plans.backfill import (
    HASH_COLS,
    TIER_ORDER,
    TableSet,
    backfill,
    count_and_hash,
    verify_lineage,
    with_bucket,
)
from ts_process_spark.plans.curation import StageLedger
from ts_process_spark.session import RUNTIME_CONF

N_CONVS = 8
N_BUCKETS = 4
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TS_COLS = {f.name for f in TIER_SCHEMA.fields if isinstance(f.dataType, T.TimestampType)}


@pytest.fixture(scope="module")
def raw(spark, tmp_path_factory):
    # a parquet input table, not cached: every backfill re-scans it, as
    # in production
    path = str(tmp_path_factory.mktemp("raw") / "turns")
    transcripts(spark, n_convs=N_CONVS, seed=3, median_turns=10).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def direct(spark, raw, tmp_path_factory):
    """The single-job cascade's tiers, written once: the reference the
    bucketed backfill is checked against."""
    root = tmp_path_factory.mktemp("direct")
    out = {}
    for tier, df in full_cascade(raw).items():
        df.write.parquet(str(root / tier))
        out[tier] = spark.read.parquet(str(root / tier))
    return out


def test_lineage_files_share_one_format(tmp_path):
    """The tier lineage and the curation stage ledger append one JSON
    object per line through the same helper, and a batch holding a
    record that fails to encode appends none of its records."""
    tables = TableSet(str(tmp_path))
    ledger = StageLedger(str(tmp_path / "curation"))
    rec = {"tier": "1m", "bucket_id": 0, "rows_out": 3, "value_hash": -7}
    tables.append_lineage([rec, rec])
    ledger.append(rec)
    ledger.append(rec)
    want = (json.dumps(rec) + "\n") * 2
    for path in (tables.lineage_path, ledger.lineage_path):
        with open(path) as f:
            assert f.read() == want
    with pytest.raises(TypeError):
        tables.append_lineage([rec, {"bad": object()}])
    assert tables.read_lineage() == ledger.read_lineage() == [rec, rec]


def _tier_frame(df):
    return (
        df.select(
            "conv_id", "bucket_ts", "n_turns", "sum_text_len", "text_hash",
            F.md5("ts_blob").alias("tsb"), F.md5("val_blob").alias("vlb"),
        )
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )


def test_backfill_crash_and_resume(spark, raw, direct, tmp_path):
    tables = TableSet(str(tmp_path / "t"))
    # crash at the 5th unit: the 1h tier's write holds it, so the 4 units
    # of the 1m tier are committed and the 1h tier is written but not
    r1 = backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=5)
    assert r1.get("crashed")
    assert r1["committed"] == 4
    assert len(tables.committed()) == 4
    recs = tables.read_lineage()
    assert [r["tier"] for r in recs] == ["1m"] * N_BUCKETS

    # and a crash in the middle of the 1m tier's lineage append: only 2
    # of its 4 records landed
    with open(tables.lineage_path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs[:2])
    kept = {r["bucket_id"] for r in recs[:2]}
    kept_files = {b: _tree(tables.partition_dir("1m", b)) for b in kept}
    assert all(kept_files.values())

    # resume: must redo the 2 uncommitted 1m units and every 1h/1d unit,
    # skip the 2 committed
    earlier_runs = {r["run_id"] for r in tables.read_lineage()}
    r2 = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r2["skipped"] == 2
    assert r2["committed"] == 3 * N_BUCKETS - 2
    assert len(tables.committed()) == 3 * N_BUCKETS
    # the dynamic overwrite left the committed partitions' files as
    # they were
    assert {b: _tree(tables.partition_dir("1m", b)) for b in kept} == kept_files

    # the resumed run's records carry one new run_id (what
    # jobs/cascade_backfill.py counts throughput by), and their 1m
    # rows_in sums to the raw rows of the buckets that run committed
    mine = [r for r in tables.read_lineage() if r["run_id"] not in earlier_runs]
    assert len(mine) == r2["committed"]
    assert len({r["run_id"] for r in mine}) == 1
    mine_1m = {r["bucket_id"]: r["rows_in"] for r in mine if r["tier"] == "1m"}
    assert 0 < len(mine_1m) < N_BUCKETS
    assert set(mine_1m) == set(range(N_BUCKETS)) - kept
    want = (
        with_bucket(raw, N_BUCKETS)
        .where(F.col("bucket_id").isin(list(mine_1m)))
        .count()
    )
    assert sum(mine_1m.values()) == want
    raw_rows = dict(with_bucket(raw, N_BUCKETS).groupBy("bucket_id").count().collect())
    assert mine_1m == {b: raw_rows[b] for b in mine_1m}

    # final tiers == direct full cascade (blobs and hashes included)
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


def test_null_key_fails_backfill_before_commit(spark, raw, tmp_path):
    """Raw turns with a NULL ``conv_id`` or ``turn_idx`` fail the 1m
    write, so no tier commits a lineage record."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1)
    bad = spark.createDataFrame(
        [(None, 0, "user", "a", None, t0), ("c1", None, "user", "b", None, t0)],
        raw.schema,
    )
    tables = TableSet(str(tmp_path / "t"))
    with pytest.raises(Exception, match="NULL (conv_id|turn_idx)"):
        backfill(spark, raw.unionByName(bad), tables, n_buckets=N_BUCKETS)
    assert tables.read_lineage() == []


def test_lineage_detects_tamper(spark, raw, tmp_path):
    tables = TableSet(str(tmp_path / "t2"))
    backfill(spark, raw, tables, n_buckets=2)
    # overwrite one committed partition with wrong content
    victim = tables.partition_dir("1d", 0)
    tables.read_tier(spark, "1d").limit(1).write.mode("overwrite").parquet(victim)
    problems = verify_lineage(spark, tables)
    assert any("1d/0" in p for p in problems)
    # a committed partition whose directory is gone is reported, not a
    # crash of the sweep
    lost = next(r["bucket_id"] for r in tables.read_lineage()
                if r["tier"] == "1m" and r["rows_out"])
    shutil.rmtree(tables.partition_dir("1m", lost))
    assert f"1m/{lost}: rowcount drift" in verify_lineage(spark, tables)
    # so is a whole tier whose directory is gone
    shutil.rmtree(tables.tier_dir("1h"))
    want = {f"1h/{r['bucket_id']}: rowcount drift" for r in tables.read_lineage()
            if r["tier"] == "1h" and r["rows_out"]}
    assert want and want <= set(verify_lineage(spark, tables))
    # and a resume that would read it as the input of a pending 1h
    # bucket fails instead of committing that bucket empty
    recs = tables.read_lineage()
    with open(tables.lineage_path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs
                     if r["tier"] == "1m" or r["bucket_id"] != lost)
    with pytest.raises(FileNotFoundError, match="tier_1m"):
        backfill(spark, raw, tables, n_buckets=2)


@pytest.mark.parametrize("n_buckets", [N_BUCKETS, N_CONVS + 4])
def test_lineage_matches_direct_cascade(spark, raw, direct, tmp_path, n_buckets):
    """Each record's (rows_out, value_hash) is count_and_hash of its
    bucket of the single-job cascade: an oracle that shares neither the
    backfill's per-tier writes, its partition reads nor its per-bucket
    observation.  With more buckets than conversations some are empty."""
    tables = TableSet(str(tmp_path / "t"))
    r = backfill(spark, raw, tables, n_buckets=n_buckets)
    assert r == {"committed": 3 * n_buckets, "skipped": 0}
    recs = {(r["tier"], r["bucket_id"]): r for r in tables.read_lineage()}
    assert set(recs) == {(t, b) for t in TIER_ORDER for b in range(n_buckets)}
    for tier, df in direct.items():
        bucketed = with_bucket(df, n_buckets)
        for b in range(n_buckets):
            rec = recs[(tier, b)]
            want = count_and_hash(bucketed.where(F.col("bucket_id") == b), HASH_COLS)
            assert (rec["rows_out"], rec["value_hash"]) == want, (tier, b)
    assert verify_lineage(spark, tables) == []


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
        pdir = tables.partition_dir(tier, b)
        if os.path.exists(pdir):
            n, x = (
                spark.read.parquet(pdir)
                .agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*HASH_COLS)))
                .first()
            )
        else:
            # an empty bucket writes no partition directory
            assert rec["rows_out"] == 0, (tier, b)
            n, x = 0, 0
        assert (rec["rows_out"], rec["value_hash"]) == (n, x or 0), (tier, b)
        if tier == "1m":
            assert rec["rows_in"] == raw_rows.get(b, 0), (tier, b)
        else:
            parent = TIER_ORDER[TIER_ORDER.index(tier) - 1]
            assert rec["rows_in"] == recs[(parent, b)]["rows_out"], (tier, b)


@pytest.mark.parametrize("mode", ["serial", "resume"])
def test_lineage_counters_match_read_back(spark, raw, tmp_path, mode):
    """The counters observed during each write are the numbers the old
    read-back/count passes produced — in one run, and when a resume
    after a crash redoes units whose parents it skipped (their rows_in
    come from the parents' lineage records)."""
    tables = TableSet(str(tmp_path / mode))
    if mode == "resume":
        assert backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=5)[
            "crashed"
        ]
        r = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
        assert r == {"committed": 3 * N_BUCKETS - 4, "skipped": 4}
    else:
        r = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
        assert r == {"committed": 3 * N_BUCKETS, "skipped": 0}
    _assert_counters_match_disk(spark, raw, tables, N_BUCKETS)


def test_lineage_counters_with_empty_buckets(spark, raw, tmp_path):
    """More buckets than conversations: an empty bucket's units commit
    zero counters.  Then a resume in which every pending bucket is
    empty: AQE prunes the empty 1m input stage together with its
    observed row counts, so that tier counts its input directly."""
    n_buckets = N_CONVS + 4
    tables = TableSet(str(tmp_path / "sparse"))
    backfill(spark, raw, tables, n_buckets=n_buckets)
    _assert_counters_match_disk(spark, raw, tables, n_buckets)
    recs = tables.read_lineage()
    empty = [r for r in recs if r["rows_out"] == 0]
    assert empty and all(r["value_hash"] == 0 for r in empty)

    empty_1m = {r["bucket_id"] for r in empty if r["tier"] == "1m"}
    assert empty_1m
    with open(tables.lineage_path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs
                     if r["bucket_id"] not in empty_1m)
    r = backfill(spark, raw, tables, n_buckets=n_buckets)
    assert r["committed"] == 3 * len(empty_1m)
    _assert_counters_match_disk(spark, raw, tables, n_buckets)
    assert verify_lineage(spark, tables) == []


@pytest.fixture(scope="module")
def wide_raw(spark, tmp_path_factory):
    """Enough short conversations that each of 64 buckets holds some."""
    path = str(tmp_path_factory.mktemp("wide_raw") / "turns")
    transcripts(spark, n_convs=320, seed=5, median_turns=3).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize(
    "input_fixture, n_buckets",
    [("raw", N_BUCKETS), ("raw", N_CONVS + 4), ("wide_raw", 64)],
    ids=[str(N_BUCKETS), str(N_CONVS + 4), "64"],
)
def test_backfill_jobs_per_tier(spark, request, tmp_path, input_fixture, n_buckets):
    """A tier is one write over all its pending buckets: lineage
    counters are observed during the write, nothing is read back, no
    tier read infers a schema and none lists its bucket directories in
    a Spark job, so a backfill runs at most 3 Spark jobs per tier (the
    two shuffle map stages and the write) and verify_lineage 1.  With
    more buckets than conversations some buckets are empty and have no
    directory; at 64 buckets (the backfill job's default, past Spark's
    default listing threshold of 32) every bucket has one, and
    ``RUNTIME_CONF``'s threshold keeps their listing on the driver."""
    raw = request.getfixturevalue(input_fixture)
    sc = spark.sparkContext
    tables = TableSet(str(tmp_path / "t"))
    units = 3 * n_buckets

    def jobs(name, fn):
        group = f"{name}-{tmp_path.name}"
        sc.setJobGroup(group, f"{name} job-count pin")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    r, n_jobs = jobs("backfill", lambda: backfill(spark, raw, tables, n_buckets=n_buckets))
    assert r["committed"] == units
    if input_fixture == "wide_raw":
        n_dirs = sum(d.startswith("bucket_id=") for d in os.listdir(tables.tier_dir("1d")))
        assert n_dirs == n_buckets
    assert n_jobs <= 3 * len(TIER_ORDER)
    problems, n_jobs = jobs("verify", lambda: verify_lineage(spark, tables))
    assert problems == [] and n_jobs <= len(TIER_ORDER)


def test_lineage_detects_schema_drift(spark, raw, tmp_path):
    """verify_lineage reads tiers with the explicit tier schema; a
    partition whose columns differ from it is still caught: a missing
    hashed column reads as NULL and is reported, a column of another
    type fails the read."""
    tables = TableSet(str(tmp_path / "t3"))
    backfill(spark, raw, tables, n_buckets=2)
    assert verify_lineage(spark, tables) == []
    victim = tables.partition_dir("1h", 0)
    original = str(tmp_path / "original")
    spark.read.parquet(victim).write.parquet(original)
    spark.read.parquet(original).drop("text_hash").write.mode("overwrite").parquet(victim)
    assert any("1h/0" in p for p in verify_lineage(spark, tables))
    spark.read.parquet(original).withColumn(
        "n_turns", F.col("n_turns").cast("string")
    ).write.mode("overwrite").parquet(victim)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        verify_lineage(spark, tables)


def _parquet_files(root):
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _timestamp_columns(path):
    """{tier timestamp column: (physical type, logical type)} of one
    parquet file."""
    md = pq.ParquetFile(path).metadata
    cols = (md.schema.column(i) for i in range(md.num_columns))
    return {
        c.name: (c.physical_type, json.loads(c.logical_type.to_json()))
        for c in cols
        if c.name in TS_COLS
    }


def _assert_tier_format(paths):
    """Each file stores every tier timestamp column as INT64
    ``TIMESTAMP(MICROS, isAdjustedToUTC=true)`` and compresses every
    column chunk with ZSTD."""
    assert paths
    for path in paths:
        ts = _timestamp_columns(path)
        assert set(ts) == TS_COLS, path
        for name, (physical, logical) in ts.items():
            assert physical == "INT64", (path, name)
            assert (logical["Type"], logical["isAdjustedToUTC"], logical["timeUnit"]) == (
                "Timestamp", True, "microseconds"), (path, name)
        md = pq.ParquetFile(path).metadata
        codecs = {
            md.row_group(g).column(i).compression
            for g in range(md.num_row_groups)
            for i in range(md.num_columns)
        }
        assert codecs == {"ZSTD"}, path


def test_tier_files_are_zstd_int64_micros(spark, raw, direct, tmp_path):
    """The tier format on the session ``get_spark`` builds: the
    single-job cascade's files and a backfill root's."""
    _assert_tier_format([urlparse(f).path for df in direct.values() for f in df.inputFiles()])
    tables = TableSet(str(tmp_path / "t"))
    backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    _assert_tier_format(_parquet_files(tables.root))


def test_resume_over_int96_root(spark, raw, tmp_path):
    """A root written with INT96 timestamps (the tier format before
    INT64 µs) resumes under the current format: its committed buckets'
    files stay as they were, the redone buckets are written INT64, the
    sweep reads both, and every tier equals a fresh backfill's."""
    key = "spark.sql.parquet.outputTimestampType"
    tables = TableSet(str(tmp_path / "old"))
    spark.conf.set(key, "INT96")
    try:
        backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    finally:
        spark.conf.set(key, RUNTIME_CONF[key])
    recs = tables.read_lineage()
    a, b = sorted(r["bucket_id"] for r in recs if r["tier"] == "1d" and r["rows_out"])[:2]
    # bucket a is redone in every tier; bucket b's 1h/1d read its INT96
    # 1m partition
    dropped = {(t, a) for t in TIER_ORDER} | {("1h", b), ("1d", b)}
    with open(tables.lineage_path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs
                     if (r["tier"], r["bucket_id"]) not in dropped)
    kept = tables.committed()
    before = {k: _tree(tables.partition_dir(*k)) for k in kept}

    r = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r == {"committed": len(dropped), "skipped": 3 * N_BUCKETS - len(dropped)}
    assert {k: _tree(tables.partition_dir(*k)) for k in kept} == before
    kept_files = [f for k in kept for f in _parquet_files(tables.partition_dir(*k))]
    assert {ph for f in kept_files for ph, _ in _timestamp_columns(f).values()} == {"INT96"}
    _assert_tier_format([f for k in dropped for f in _parquet_files(tables.partition_dir(*k))])
    assert verify_lineage(spark, tables) == []

    fresh = TableSet(str(tmp_path / "fresh"))
    backfill(spark, raw, fresh, n_buckets=N_BUCKETS)
    for tier in TIER_ORDER:
        got, want = (t.read_tier(spark, tier).orderBy("conv_id", "bucket_ts").collect()
                     for t in (tables, fresh))
        assert got == want, tier


def test_backfill_job_under_spark_submit(tmp_path):
    """``jobs/cascade_backfill.py`` run by spark-submit commits every
    unit, verifies clean, reports the bytes of each tier's files and
    writes the tier format even when ``--conf`` asks for another."""
    root = str(tmp_path / "root")
    cmd = [
        os.path.join(_find_spark_home(), "bin", "spark-submit"),
        "--master", "local[2]",
        "--driver-memory", "1g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.parquet.compression.codec=snappy",
        "--conf", "spark.sql.parquet.outputTimestampType=INT96",
        os.path.join(REPO, "jobs", "cascade_backfill.py"),
        "--input", "synth:24",
        "--root", root,
        "--buckets", "4",
    ]
    env = {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    }
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["committed"] == 12
    assert report["lineage_problems"] == []
    tables = TableSet(root)
    assert report["tier_bytes"] == {
        t: sum(os.path.getsize(f) for f in _parquet_files(tables.tier_dir(t)))
        for t in TIER_ORDER
    }
    _assert_tier_format(_parquet_files(root))
