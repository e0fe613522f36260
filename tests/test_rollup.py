"""Tier-cascade correctness vs the single-node pandas oracle.

Checks (SURVEY.md §5): exact tier-point match at every grain, per-turn
text equality under stable (conv_id, turn_idx) order, cascade
re-aggregation consistency, partition-count invariance."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.oracle import gapfill_pdf, tier_pdf
from ts_process_spark.datagen import gen_conv_pdf, transcripts
from ts_process_spark.functions.codecs import decode_dod, decode_gorilla
from ts_process_spark.operators.gapfill import gapfill_ts
from ts_process_spark.operators.rollup import full_cascade, rollup_raw_to_1m

N_CONVS = 10
SEED = 7


@pytest.fixture(scope="module")
def raw_pdf() -> pd.DataFrame:
    return pd.concat(
        [gen_conv_pdf(k, seed=SEED, median_turns=12) for k in range(N_CONVS)],
        ignore_index=True,
    )


@pytest.fixture(scope="module")
def raw_df(spark, raw_pdf):
    return transcripts(spark, n_convs=N_CONVS, seed=SEED, median_turns=12).cache()


def test_generator_matches_oracle_frame(spark, raw_df, raw_pdf):
    """Distributed generator == pure-function pandas recipe, and the
    per-turn text equality invariant under (conv_id, turn_idx) order."""
    got = (
        raw_df.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "role", "text", "tool")
        .toPandas()
    )
    exp = raw_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
        ["conv_id", "turn_idx", "role", "text", "tool"]
    ]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_gapfill_exact(spark, raw_df, raw_pdf):
    got = (
        gapfill_ts(raw_df)
        .select(
            "conv_id", "turn_idx", F.unix_micros("ts_filled").alias("us"), "gapfilled"
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = gapfill_pdf(raw_pdf).sort_values(["conv_id", "turn_idx"])
    assert got["us"].tolist() == [int(u) for u in exp["ts_filled_us"]]
    assert got["gapfilled"].tolist() == exp["gapfilled"].tolist()
    assert int(raw_pdf["ts"].isna().sum()) == int(got["gapfilled"].sum()) > 0


@pytest.mark.parametrize("tier,unit", [("1m", "minute"), ("1h", "hour"), ("1d", "day")])
def test_tiers_match_oracle(spark, raw_df, raw_pdf, tier, unit):
    """Every tier of the engine cascade == the direct raw→tier oracle,
    including decoded blob points (exact, bit-level)."""
    tiers = full_cascade(raw_df)
    got = (
        tiers[tier]
        .withColumn("bucket_us", F.unix_micros("bucket_ts"))
        .withColumn("first_us", F.unix_micros("first_ts"))
        .withColumn("last_us", F.unix_micros("last_ts"))
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )
    exp = tier_pdf(gapfill_pdf(raw_pdf), unit).sort_values(
        ["conv_id", "bucket_us"]
    ).reset_index(drop=True)
    assert len(got) == len(exp)
    for col in [
        "conv_id",
        "bucket_us",
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        "first_turn_idx",
        "last_turn_idx",
        "first_us",
        "last_us",
    ]:
        assert got[col].tolist() == exp[col].tolist(), col
    np.testing.assert_allclose(got["mean_text_len"], exp["mean_text_len"], rtol=0)
    np.testing.assert_allclose(
        got["mean_gap_s"].fillna(-1), exp["mean_gap_s"].fillna(-1), rtol=0
    )
    for i in range(len(got)):
        assert decode_dod(bytes(got["ts_blob"][i])).tolist() == exp["ts_points"][i], i
        assert (
            decode_gorilla(bytes(got["val_blob"][i])).tolist() == exp["val_points"][i]
        ), i


def test_partition_invariance(spark):
    """Identical tier rows (hashes and blobs included) at 2 vs 16 input
    partitions — the local stand-in for executor-count invariance."""
    outs = []
    for parts in (2, 16):
        raw = transcripts(spark, n_convs=6, seed=11, partitions=parts)
        t1h = full_cascade(raw)["1h"]
        outs.append(
            t1h.select(
                "conv_id",
                "bucket_ts",
                "n_turns",
                "text_hash",
                F.md5(F.col("ts_blob")).alias("tsb"),
                F.md5(F.col("val_blob")).alias("vlb"),
            )
            .orderBy("conv_id", "bucket_ts")
            .toPandas()
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_text_hash_is_order_stable(spark, raw_df):
    """text_hash at 1m == xxhash64 of the turn-ordered concatenation of
    per-turn text hashes, computed through an independent (non-grouped)
    Spark expression — and it is sensitive to any text change."""
    t1m = rollup_raw_to_1m(raw_df)
    got = {
        (r["conv_id"], r["bucket_ts"]): r["text_hash"]
        for r in t1m.select("conv_id", "bucket_ts", "text_hash").collect()
    }
    filled = gapfill_ts(
        raw_df.withColumn("th", F.xxhash64("text"))
    ).where(F.col("ts_filled").isNotNull())
    exp_rows = (
        filled.select(
            "conv_id",
            F.date_trunc("minute", "ts_filled").alias("bucket_ts"),
            "turn_idx",
            F.col("th").cast("string").alias("th"),
        )
        .orderBy("conv_id", "bucket_ts", "turn_idx")
        .toPandas()
    )
    sep = "\x1f"
    agg = exp_rows.groupby(["conv_id", "bucket_ts"], sort=False)["th"].agg(sep.join)
    joined = spark.createDataFrame(
        agg.reset_index().rename(columns={"th": "joined"})
    ).select("conv_id", "bucket_ts", F.xxhash64("joined").alias("h"))
    for r in joined.collect():
        assert got[(r["conv_id"], r["bucket_ts"])] == r["h"]
    # sensitivity: flipping one text changes that bucket's hash
    mutated = raw_df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == raw_df.first()["conv_id"]) & (F.col("turn_idx") == 0),
            F.lit("MUTATED"),
        ).otherwise(F.col("text")),
    )
    got2 = {
        (r["conv_id"], r["bucket_ts"]): r["text_hash"]
        for r in rollup_raw_to_1m(mutated)
        .select("conv_id", "bucket_ts", "text_hash")
        .collect()
    }
    assert got != got2 and len(got) == len(got2)


def test_cascade_edge_convs(spark):
    """Degenerate conversations: all-null-ts (never resolvable → dropped
    entirely), single-turn (one-point blobs must round-trip), and a
    two-turn conv straddling a day boundary (tier buckets split/merge
    correctly)."""
    import datetime as dt

    from ts_process_spark.datagen import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2030, 1, 1, 23, 59, 30)
    rows = [
        # all ts null — gap-fill has no anchor; conv must vanish
        ("nullconv", 0, "user", "aaa", None, None),
        ("nullconv", 1, "assistant", "bbb", None, None),
        # single turn
        ("single", 0, "user", "hello", None, t0),
        # straddles midnight: 2 minute-buckets, 2 hour-buckets, 2 days
        ("straddle", 0, "user", "x" * 10, None, t0),
        ("straddle", 1, "assistant", "y" * 20, None,
         t0 + dt.timedelta(seconds=60)),
    ]
    raw = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPT_SCHEMA]),
        TRANSCRIPT_SCHEMA,
    )
    tiers = full_cascade(raw)
    t1m = tiers["1m"].toPandas().sort_values(["conv_id", "bucket_ts"])
    assert "nullconv" not in set(t1m.conv_id)
    single = t1m[t1m.conv_id == "single"]
    assert len(single) == 1 and single.n_turns.iloc[0] == 1
    # one-point blobs decode to exactly the one point
    ts = decode_dod(bytes(single.ts_blob.iloc[0]))
    vals = decode_gorilla(bytes(single.val_blob.iloc[0]))
    assert len(ts) == 1 and len(vals) == 1 and vals[0] == 5.0  # len("hello")
    strad = t1m[t1m.conv_id == "straddle"]
    assert len(strad) == 2 and list(strad.n_turns) == [1, 1]
    t1d = tiers["1d"].toPandas()
    sd = t1d[t1d.conv_id == "straddle"].sort_values("bucket_ts")
    assert len(sd) == 2  # two day buckets
    assert list(sd.n_turns) == [1, 1]
    assert sd.peak_text_len.tolist() == [10, 20]


def test_blob_chunks_dropped_counts_leaf_units(spark):
    """``blob_n_chunks`` counts leaf (1m) chunks at every tier, not
    children: each 1h row of a conv with a turn in every minute holds
    60, and the 1d row over three such hours holds 180."""
    import datetime as dt

    from ts_process_spark.operators.rollup import (
        rollup_cascade,
        rollup_raw_to_1m,
    )

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        ("c1", m, "user", "x" * 50, None, t0 + dt.timedelta(minutes=m))
        for m in range(180)  # three full hours, one conv
    ]
    raw = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t1h = rollup_cascade(rollup_raw_to_1m(raw), "1h")
    assert [r["blob_n_chunks"] for r in t1h.collect()] == [60, 60, 60]
    d = rollup_cascade(t1h, "1d").collect()
    assert [r["blob_n_chunks"] for r in d] == [180]


def test_null_text_normalizes_at_operator(spark):
    """rollup_raw_to_1m must treat NULL text as '' at the OPERATOR, not
    rely on callers: counts/sums stay consistent, sum_text_len never
    goes NULL, and the blob carries 0.0 instead of NaN."""
    import datetime as dt

    import numpy as np

    from ts_process_spark.functions.codecs import decode_gorilla
    from ts_process_spark.operators.rollup import rollup_raw_to_1m

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        ("c1", 0, "user", "hello", None, t0),
        ("c1", 1, "assistant", None, None, t0 + dt.timedelta(seconds=10)),
        ("c1", 2, "user", "bye", None, t0 + dt.timedelta(seconds=20)),
    ]
    raw = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    out = rollup_raw_to_1m(raw).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_turns"] == 3
    assert r["sum_text_len"] == 8  # 5 + 0 + 3
    assert r["peak_text_len"] == 5
    assert r["mean_text_len"] == 8 / 3
    vals = decode_gorilla(bytes(r["val_blob"]))
    assert list(vals) == [5.0, 0.0, 3.0]
    assert not np.isnan(vals).any()


def test_null_key_fails_the_cascade(spark):
    """A raw turn with a NULL ``conv_id`` or ``turn_idx`` has no tier
    key: the cascade fails naming the column instead of writing a row
    under a NULL key (or a turn outside first/last_turn_idx)."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    ok = [("c1", 0, "user", "hi", None, t0)]
    null_conv = [(None, 0, "user", "a", None, t0)]
    null_turn = [("c1", None, "user", "b", None, t0)]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    for rows, match in (
        (ok + null_conv + null_turn, "NULL (conv_id|turn_idx)"),
        (ok + null_conv, "NULL conv_id"),
        (ok + null_turn, "NULL turn_idx"),
    ):
        raw = spark.createDataFrame(rows, schema)
        with pytest.raises(Exception, match=match):
            full_cascade(raw)["1d"].collect()


def test_listagg_containers_match_python_form(spark, raw_df):
    """The cascade's container blobs are joined in the JVM by ordered
    ``listagg`` over per-child parts; pin them byte-equal to the scalar
    codecs.concat_blobs reference for BOTH structural shapes — leaf
    children (1m→1h: length entries from _le4 of each blob's length)
    and container children (1h→1d: length table and body copied by
    byte-slicing, flattening exactly like the Python form)."""
    from ts_process_spark.functions.codecs import concat_blobs
    from ts_process_spark.operators.rollup import rollup_cascade

    t1m = rollup_raw_to_1m(raw_df)
    t1h = rollup_cascade(t1m, "1h")

    def expected(child_df, tier):
        # reference: python concat_blobs over the child blobs collected
        # in bucket order, grouped by the parent bucket
        trunc = {"1h": "hour", "1d": "day"}[tier]
        rows = (
            child_df.select(
                "conv_id",
                F.date_trunc(trunc, "bucket_ts").alias("pb"),
                "bucket_ts",
                "ts_blob",
                "val_blob",
            )
            .orderBy("conv_id", "bucket_ts")
            .collect()
        )
        groups: dict = {}
        for r in rows:
            groups.setdefault((r["conv_id"], r["pb"]), []).append(
                (bytes(r["ts_blob"]), bytes(r["val_blob"]))
            )
        out = {}
        for k, blobs in groups.items():
            out[k] = (
                concat_blobs([b[0] for b in blobs]),
                concat_blobs([b[1] for b in blobs]),
            )
        return out

    for child, tier in ((t1m, "1h"), (t1h, "1d")):
        got = {
            (r["conv_id"], r["bucket_ts"]): (
                bytes(r["ts_blob"]),
                bytes(r["val_blob"]),
            )
            for r in rollup_cascade(child, tier).collect()
        }
        exp = expected(child, tier)
        assert set(got) == set(exp)
        bad = [k for k in got if got[k] != exp[k]]
        assert not bad, (tier, bad[:3])


def test_le4_fails_loudly_past_2_31_with_ansi_off(spark):
    """The container header's u32 fields: a length or chunk count
    outside [0, 2^31) raises instead of being truncated to wrong bytes —
    also in a non-ANSI session, where a cast would wrap silently."""
    import struct

    from ts_process_spark.operators.rollup import _le4

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        top = 2**31 - 1
        got = spark.range(top, top + 1).select(F.expr(_le4("id")).alias("b")).first()
        assert bytes(got["b"]) == struct.pack("<I", top)
        for bad in (2**31, 2**32 + 5, -1):
            with pytest.raises(Exception, match="out of u32 range"):
                spark.range(bad, bad + 1).select(F.expr(_le4("id"))).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_duplicate_turn_fills_the_same_in_every_layout(spark):
    """A turn that arrives twice — once with its ts lost, once known —
    gap-fills toward its known copy (order ``(turn_idx, ts NULLS
    FIRST)``), whatever the input order and partition count: one
    outcome over 2 orders × {1, 2, 4, 8} partitions, for gap-fill and
    for the 1m tier, equal to the pandas oracle."""
    import datetime as dt

    from ts_process_spark.datagen import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        ("dup", 0, "user", "a", None, t0),
        ("dup", 1, "assistant", "bb", None, None),
        ("dup", 1, "assistant", "bb", None, t0 + dt.timedelta(seconds=50)),
        ("dup", 2, "user", "ccc", None, t0 + dt.timedelta(seconds=10)),
        ("dup", 3, "assistant", "dddd", None, None),
        ("dup", 4, "user", "e", None, t0 + dt.timedelta(seconds=70)),
    ]
    pdf = pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPT_SCHEMA])
    exp = sorted(
        (int(r.turn_idx), int(r.ts_filled_us), bool(r.gapfilled))
        for r in gapfill_pdf(pdf).itertuples()
    )
    fills, tiers = set(), set()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for order in (rows, rows[::-1]):
            for parts in (1, 2, 4, 8):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                raw = spark.createDataFrame(
                    spark.sparkContext.parallelize(order, parts), TRANSCRIPT_SCHEMA
                )
                fills.add(tuple(sorted(
                    (r["turn_idx"], r["us"], r["gapfilled"])
                    for r in gapfill_ts(raw)
                    .selectExpr("turn_idx", "unix_micros(ts_filled) AS us", "gapfilled")
                    .collect()
                )))
                tiers.add(tuple(sorted(
                    tuple(r) for r in rollup_raw_to_1m(raw).drop("conv_id").collect()
                )))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert fills == {tuple(exp)}, fills
    assert len(tiers) == 1, tiers
