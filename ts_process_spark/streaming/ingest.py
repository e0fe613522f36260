"""Structured Streaming raw→1m ingest (the optional streaming front of
the cascade; SURVEY §2.9 — the reference is batch-only, so this surface
is engine-native with no reference semantics to match).

Shape: file-source stream of transcript turns → 10-minute watermark →
tumbling 1-minute window per conv_id → append-mode aggregates.  The
streaming tier carries the JVM-side aggregate columns only (counts,
sums, peaks); blob encoding and gap-fill need a conversation's
neighborhood and therefore stay in the batch cascade.  Both paths key
rows by (conv_id, bucket_ts); nothing here writes the streaming rows
into the batch tiers or reads them back.

Late data: rows later than the watermark are dropped by the stream.
Nothing heals them: ``plans.backfill.backfill`` skips every (tier,
bucket) that already has a lineage record, so a late row lands in the
batch tiers only if its bucket is still pending when the backfill runs.
A resume that notices changed raw input is ROADMAP direction 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_process_spark.datagen import TRANSCRIPT_SCHEMA


def stream_raw(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def stream_rollup_1m(raw: DataFrame) -> DataFrame:
    """Windowed streaming aggregate under a 10-minute watermark; append
    output mode (finalized windows only)."""
    # NULL text normalizes to '' exactly like the batch tier
    # (rollup_raw_to_1m): both paths key rows by (conv_id, bucket_ts),
    # so a NULL-text bucket must carry the same values in both
    tlen = F.length(F.coalesce(F.col("text"), F.lit("")))
    return (
        raw.where(F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy("conv_id", F.window("ts", "1 minute").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(tlen).alias("sum_text_len"),
            F.max(tlen).alias("peak_text_len"),
            F.min("turn_idx").alias("first_turn_idx"),
            F.max("turn_idx").alias("last_turn_idx"),
        )
        .select(
            "conv_id",
            F.col("win.start").alias("bucket_ts"),
            "n_turns",
            "sum_text_len",
            "peak_text_len",
            "first_turn_idx",
            "last_turn_idx",
        )
    )


def run_stream_to_memory(spark: SparkSession, path: str) -> DataFrame:
    """Drive the stream to completion over a static directory (test/demo
    harness): memory sink + processAllAvailable."""
    q = (
        stream_rollup_1m(stream_raw(spark, path))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tier_1m_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM tier_1m_stream")


# --------------------------------------------------------------------------
# Custom stateful operator: streaming sessionization (applyInPandasWithState)
# --------------------------------------------------------------------------

SESSION_SCHEMA = (
    "conv_id string, session_start timestamp, session_end timestamp, "
    "n_turns long, sum_text_len long"
)
_SESSION_STATE_SCHEMA = "ts_buf array<long>, tl_buf array<long>"


def stream_sessionize(raw: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Streaming sessionization per conversation — the engine's custom
    STATEFUL operator (SURVEY §2.9 / task brief: applyInPandasWithState
    for semantics windowed aggs can't express: session boundaries depend
    on *neighboring* event times, not a fixed grid).

    Protocol (correct under out-of-order arrival within the 10-minute
    watermark):
    buffer each conv's (ts, text_len) pairs in group state; whenever the
    group is invoked (new data OR event-time timeout), sort the buffer,
    greedily split into gap_s sessions, and EMIT exactly the sessions
    that are sealed — session_end + gap_s ≤ current watermark, so no
    admissible late row can ever extend or merge them (later rows are ≥
    the watermark by definition; earlier ones were dropped by it).
    Unsealed rows stay in state, which is therefore bounded by one
    watermark+gap window per conv, not by history.  An event-time
    timeout is armed at seal time so quiet conversations still flush
    when the watermark passes them."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_s * 1_000_000

    def fn(key, pdfs, state: GroupState):
        ts_buf, tl_buf = state.get if state.exists else ((), ())
        ts_list, tl_list = list(ts_buf), list(tl_buf)
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_list.extend(
                    int(t.value) // 1000  # ns → µs
                    for t in pd.to_datetime(pdf["ts"])
                )
                tl_list.extend(int(x) for x in pdf["text_len"])
        else:
            for _ in pdfs:  # exhaust the (empty) iterator per contract
                pass
        wm_us = state.getCurrentWatermarkMs() * 1000
        order = sorted(range(len(ts_list)), key=lambda i: ts_list[i])
        sessions: list[list[int]] = []  # [start_us, end_us, n, sum_tl]
        for i in order:
            t, L = ts_list[i], tl_list[i]
            if sessions and t - sessions[-1][1] <= gap_us:
                s = sessions[-1]
                s[1] = t
                s[2] += 1
                s[3] += L
            else:
                sessions.append([t, t, 1, L])
        # STRICT seal: an admissible event may carry ts == watermark, and
        # ts - session_end == gap still merges under batch semantics — a
        # session whose merge window touches the watermark must stay open
        # (sealing at <= emitted it one event too early at the boundary).
        sealed = [s for s in sessions if s[1] + gap_us < wm_us]
        open_ = [s for s in sessions if s[1] + gap_us >= wm_us]
        if open_:
            keep_from = open_[0][0]
            kept = [i for i in order if ts_list[i] >= keep_from]
            state.update((
                [ts_list[i] for i in kept],
                [tl_list[i] for i in kept],
            ))
            # revisit when the watermark can seal the earliest open session
            # (+1 ms: the seal test is strict, wm must pass end+gap)
            state.setTimeoutTimestamp(max(wm_us // 1000 + 1,
                                          (open_[0][1] + gap_us) // 1000 + 1))
        else:
            state.remove()
        if sealed:
            yield pd.DataFrame(
                {
                    "conv_id": key[0],
                    "session_start": pd.to_datetime(
                        [s[0] for s in sealed], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [s[1] for s in sealed], unit="us"
                    ),
                    "n_turns": [s[2] for s in sealed],
                    "sum_text_len": [s[3] for s in sealed],
                }
            )

    slim = (
        raw.where(F.col("ts").isNotNull())
        .select("conv_id", "ts", F.length("text").cast("long").alias("text_len"))
        .withWatermark("ts", "10 minutes")
    )
    return slim.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_sessionize_stream_to_memory(
    spark: SparkSession, path: str, gap_s: int = 1800
) -> DataFrame:
    q = (
        stream_sessionize(stream_raw(spark, path), gap_s=gap_s)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM sessions_stream")


def stream_exact_dedup(
    raw: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup for a training-data ingest: drop turns whose
    (conv_id, text-digest) was already seen, with state bounded by the
    watermark via ``dropDuplicatesWithinWatermark`` — the streaming twin
    of operators/dedup.exact_dedup.  The digest is computed map-side
    (xxhash64 of the text), so no raw text is held in state; at 100 TB
    the state store carries one small row per distinct key per
    watermark window, not per event."""
    return (
        raw.where(F.col("ts").isNotNull())
        .withColumn("digest", F.xxhash64("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "digest"])
    )


# --------------------------------------------------------------------------
# Stream–stream interval join (the §2.3 join family in streaming form)


def stream_interval_join(
    turns: DataFrame,
    acks: DataFrame,
    max_delay_s: int = 120,
) -> DataFrame:
    """Watermarked stream–stream INTERVAL join (a 10-minute watermark on
    both sides): each turn is matched to acknowledgment events of the
    same conversation arriving within (turn_ts, turn_ts + max_delay_s].

    This is the class of streaming operator the other entries don't
    cover: BOTH sides are unbounded, so correctness depends on the
    time-range condition + both watermarks letting Spark bound and
    EVICT join state (without the interval bound the right side's state
    would grow forever).  Output is append-mode: a match is emitted once
    both watermarks pass the interval's end.

    Columns: turns(conv_id, turn_idx, ts, …), acks(conv_id, ts, …).
    """
    t = (
        turns.where(F.col("ts").isNotNull())
        .select(
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("ts").alias("turn_ts"),
        )
        .withWatermark("turn_ts", "10 minutes")
    )
    a = (
        acks.where(F.col("ts").isNotNull())
        .select(
            F.col("conv_id").alias("ack_conv"),
            F.col("ts").alias("ack_ts"),
            F.col("role").alias("ack_role"),
        )
        .withWatermark("ack_ts", "10 minutes")
    )
    return t.join(
        a,
        (F.col("conv_id") == F.col("ack_conv"))
        & (F.col("ack_ts") > F.col("turn_ts"))
        & (
            F.col("ack_ts")
            <= F.col("turn_ts") + F.expr(f"INTERVAL {max_delay_s} SECONDS")
        ),
    ).select("conv_id", "turn_idx", "turn_ts", "ack_ts", "ack_role")


def run_interval_join_to_memory(
    spark: SparkSession,
    turns_path: str,
    acks_path: str,
    max_delay_s: int = 120,
) -> DataFrame:
    """Drive the interval join over static directories (test harness)."""
    q = (
        stream_interval_join(
            stream_raw(spark, turns_path),
            stream_raw(spark, acks_path),
            max_delay_s=max_delay_s,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("interval_join_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql("SELECT * FROM interval_join_stream")
