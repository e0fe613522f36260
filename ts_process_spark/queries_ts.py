"""Oracle-checked time-series + relational queries over the driver's
testdata tables (events / lineitem / orders / customer / nation / region).

Each entry is ``(spark_fn, oracle_sql)`` where the Spark DataFrame and
the DuckDB SQL produce identical row sets (same column names, SAME
column dtypes, rounded floats, string-formatted timestamps so the hash
compare is representation-stable).  Together these cover the SURVEY.md
§2 operator inventory on the relational side: scans (S1), filters
(P1-P7), joins (J1-J3), aggregations (A1-A6), window functions (W1-W9
analogs), sorts/top-k (O1-O4), scalar functions (F1-F12).

Representation contract (learned from the round-1 driver gate):

- DuckDB ``sum(BIGINT)`` returns HUGEINT, which materializes as float64
  through pandas — hash-mismatching Spark's LongType even when every
  value is equal.  EVERY integer aggregate/window-sum in the oracle SQL
  is therefore wrapped ``CAST(sum(...) AS BIGINT)``.
- ``round()`` on an arbitrary-ratio double diverges at rounding
  boundaries (Spark BigDecimal HALF_UP vs DuckDB multiply/divide), so
  ratio-valued outputs are replaced by exact integer surrogates
  (numerator/denominator or scaled integer division) wherever the ratio
  itself isn't load-bearing.
- Accepted exceptions: (a) the trig-based kernels (taper_tukey,
  rotmax_scan, rotate expressions) round transcendental
  values — JVM Math.cos vs libm cos may differ by 1 ulp, so a value
  within ~1 ulp of a rounding boundary could flip one engine's last
  digit; (b) gapfill_linear / integrate_trapezoid
  round float interpolations whose expression trees are identical on
  both sides, where only a representable-decimal tie could diverge.
  Data-dependent residual risk of order 1e-10 per row, accepted because
  the alternative is losing value-checks on those operator families;
  verified hash-clean on the gate fixture at sf0.01 AND sf0.1
  (110k+ rows).

Reference citations are per-function; the mapping is semantic — e.g. the
"window_kernels" derivative is the reference's first-difference kernel
(/root/reference/ts_process/ts_library.py:111-124) re-expressed as a lag
window over an event stream.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ts_process_spark.operators.textstats import _ensure_parallelism

R = 6  # float rounding for oracle hash stability

# SQL-side exact integer surrogate for the 2-decimal double `value`
_C = "CAST(round(value * 100) AS BIGINT)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet timestamps come in as TIMESTAMP_NTZ; session TZ is pinned to
    # UTC so the cast is value-preserving and enables unix_micros etc.
    return spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _cents(col) -> "F.Column":
    """Exact integer surrogate for a 2-decimal double.

    Sums of doubles are order-dependent across engines; sums of int64
    cents are exact and associative, so oracle hash comparison is stable
    (and the same trick is what a production engine would do with
    DecimalType at 100 TB — no float drift across partial aggregates).
    """
    return F.round(col * 100).cast("long")


# ------------------------------------------------------------------ rollups


def q_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute rollup per user (SURVEY §2.4 A6; the raw→1m
    tier on the events stream): count, sum, peak |value| (A1,
    rotd50.f:272-281), first/last event."""
    ev = _events(spark, sf_dir)
    # r9: project the group keys, then hash-spread small inputs on them
    # BEFORE the aggregate.  Buckets are ~1 event deep in this data
    # model, so map-side partial aggregation combines nothing — it only
    # serializes a ~full-cardinality hash-table build into the
    # single-row-group scan task.  With the key spread the aggregate's
    # clustering is already satisfied (one exchange either way) and the
    # whole agg runs post-shuffle at full parallelism; at real scale the
    # spread no-ops and the normal partial+final plan returns.  All
    # aggregates are exact int64 / max — grouping split cannot change a
    # value.
    pre = _ensure_parallelism(
        ev.select(
            "user_id",
            F.date_trunc("minute", "ts").alias("bucket"),
            "value",
            "event_id",
        ),
        "user_id",
        "bucket",
    )
    return (
        pre.groupBy("user_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_c"),
            F.round(F.max(F.abs(F.col("value"))), R).alias("peak_abs_value"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .select(
            "user_id",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "n_events",
            "sum_value_c",
            "peak_abs_value",
            "first_event_id",
            "last_event_id",
        )
    )


SQL_ROLLUP_1M = f"""
SELECT user_id,
       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       count(*) AS n_events,
       CAST(sum({_C}) AS BIGINT) AS sum_value_c,
       round(max(abs(value)), {R}) AS peak_abs_value,
       min(event_id) AS first_event_id,
       max(event_id) AS last_event_id
FROM events
GROUP BY 1, date_trunc('minute', ts)
"""


def q_rollup_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarser tiers (1h AND 1d in one result, tagged) built by
    *re-aggregating the 1m tier* (the cascade, SURVEY §2.4 A6 /
    ts_library.py:919-925 decimate fast path) — the oracle aggregates
    raw directly per tier, so this checks cascade == direct for both
    retention tiers at once."""
    ev = _events(spark, sf_dir)
    # r9: same sparse-bucket key spread as q_rollup_1m
    pre = _ensure_parallelism(
        ev.select(
            "user_id", F.date_trunc("minute", "ts").alias("bucket"), "value"
        ),
        "user_id",
        "bucket",
    )
    t1m = pre.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents(F.col("value"))).alias("sum_value_c"),
        F.max(F.abs(F.col("value"))).alias("peak_abs_value"),
    )
    # r9 (late): the earlier union-of-branches form planned the
    # scan→spread→t1m subtree once per tier.  AQE's runtime stage reuse
    # shares the scan+spread EXCHANGE stage between the branches (a
    # probe on a real execution shows the ReusedQueryStage; the initial
    # explain misleadingly prints two full chains), but everything ABOVE
    # the exchange — the t1m final hash-aggregate over the full 1m
    # cardinality — still ran once per tier, plus a third exchange.
    # Explode each 1m row into its (tier, truncated-bucket) pairs and
    # re-aggregate once instead: one t1m aggregate, 3 exchanges → 2.
    # Aggregates are identical per (tier, user, bucket) group (long
    # sums / max — order-free), so the result multiset is unchanged
    # (oracle + pandas twin re-verified; interleaved A/B 0.59→0.50 s
    # med at sf0.1, 1.02→0.91 at 10×).
    tagged = t1m.select(
        "user_id",
        "n_events",
        "sum_value_c",
        "peak_abs_value",
        F.explode(
            F.array(
                F.struct(
                    F.lit("1h").alias("tier"),
                    F.date_trunc("hour", "bucket").alias("b"),
                ),
                F.struct(
                    F.lit("1d").alias("tier"),
                    F.date_trunc("day", "bucket").alias("b"),
                ),
            )
        ).alias("tb"),
    )
    return (
        tagged.groupBy(
            F.col("tb.tier").alias("tier"),
            "user_id",
            F.col("tb.b").alias("bucket"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_c").alias("sum_value_c"),
            F.round(F.max("peak_abs_value"), R).alias("peak_abs_value"),
        )
        .select(
            "tier",
            "user_id",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
            "n_events",
            "sum_value_c",
            "peak_abs_value",
        )
    )


def _sql_tier(unit: str, tag: str) -> str:
    return f"""
SELECT '{tag}' AS tier, user_id,
       strftime(date_trunc('{unit}', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       count(*) AS n_events,
       CAST(sum({_C}) AS BIGINT) AS sum_value_c,
       round(max(abs(value)), {R}) AS peak_abs_value
FROM events
GROUP BY 2, date_trunc('{unit}', ts)
"""


SQL_ROLLUP_TIERS = _sql_tier("hour", "1h") + "UNION ALL" + _sql_tier("day", "1d")


# --------------------------------------------------------- window kernels


def q_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interp gap fill (ts_library.py:896-962 linear mode /
    rotd50.f:284-305 InterpTime): null out value on every 50th event,
    reconstruct between prev/next known per user in (ts, event_id) order."""
    # one (ts, event_id) ordering for rn and both lookups: one Sort;
    # "next known" is lead(.., 1) IGNORE NULLS, O(n) like the growing
    # frame (see operators/gapfill.py)
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    known = "CASE WHEN v IS NOT NULL THEN named_struct('rn', rn, 'v', v) END"
    ev = (
        _events(spark, sf_dir)
        .selectExpr("*", "CASE WHEN event_id % 50 != 0 THEN value END AS v")
        .selectExpr("*", f"row_number() OVER ({w}) AS rn")
        .selectExpr(
            "*",
            f"last({known}) IGNORE NULLS OVER ({w}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev",
            f"lead({known}, 1) IGNORE NULLS OVER ({w}) AS nxt",
        )
    )
    filled = F.expr(
        "CASE WHEN v IS NOT NULL THEN v"
        " WHEN prev IS NOT NULL AND nxt IS NOT NULL"
        " THEN prev.v + (nxt.v - prev.v) * (rn - prev.rn) / (nxt.rn - prev.rn)"
        " ELSE coalesce(prev.v, nxt.v) END"
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.round(filled, R) + F.lit(0.0)).alias("value_filled"),  # +0.0: round() keeps -0.0 in DuckDB but not Spark
        F.col("v").isNull().alias("was_gap"),
    )


SQL_GAPFILL_LINEAR = f"""
WITH base AS (
    SELECT event_id, user_id,
           CASE WHEN event_id % 50 <> 0 THEN value END AS v,
           row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS rn
    FROM events
), marked AS (
    SELECT *,
        last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS prev_rn,
        last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS prev_v,
        first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY rn
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rn,
        first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY rn
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v
    FROM base
)
SELECT event_id, user_id,
    round(CASE WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                   THEN prev_v + (next_v - prev_v) * (rn - prev_rn) / (next_rn - prev_rn)
               ELSE coalesce(prev_v, next_v) END, {R}) + 0.0 AS value_filled,
    (v IS NULL) AS was_gap
FROM marked
"""


def q_window_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three reference window kernels in ONE pass (they share the same
    per-user ordering window, so one shuffle serves all three):

    - W1 derivative (ts_library.py:111-124): exact integer surrogates
      ``dval_c`` (cents delta) and ``dt_us`` (elapsed µs) — the ratio
      dval/dt is left symbolic because rounding an arbitrary-ratio
      double is engine-divergent (r1 hash-fail mechanism #2);
    - W3 FIR smooth (ts_library.py:393-409, 0.25/0.5/0.25 taps): emitted
      in quarter-cents ``prev_c + 2·cur_c + next_c`` (edges keep the raw
      sample ×4), exact int64;
    - A3 DC removal (rotd50/ft_th.f:1-30 iflag 0): deviation from the
      per-user mean scaled by n — ``cur_c·n − Σc`` — exact int64.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    c = _cents(F.col("value"))
    prev_c, next_c = F.lag(c).over(w), F.lead(c).over(w)
    dt_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return ev.select(
        "event_id",
        "user_id",
        (c - prev_c).alias("dval_c"),
        dt_us.alias("dt_us"),
        F.when(
            prev_c.isNotNull() & next_c.isNotNull(), prev_c + 2 * c + next_c
        )
        .otherwise(4 * c)
        .alias("smoothed_qc"),
        (c * F.count(F.lit(1)).over(wp) - F.sum(c).over(wp)).alias(
            "dc_dev_scaled"
        ),
    )


SQL_WINDOW_KERNELS = f"""
SELECT event_id, user_id,
    c - lag(c) OVER w AS dval_c,
    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt_us,
    CASE WHEN lag(c) OVER w IS NOT NULL AND lead(c) OVER w IS NOT NULL
         THEN lag(c) OVER w + 2 * c + lead(c) OVER w
         ELSE 4 * c END AS smoothed_qc,
    CAST(c * count(*) OVER wp - sum(c) OVER wp AS BIGINT) AS dc_dev_scaled
FROM (SELECT *, {_C} AS c FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id),
       wp AS (PARTITION BY user_id)
"""


def q_integrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative trapezoid per user (ts_library.py:96-109, incl. the
    v[0]*dt/2-style half-step first term analog = 0 here)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = F.when(
        F.lag("value").over(w).isNotNull(),
        (F.col("value") + F.lag("value").over(w))
        / 2.0
        * ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1e6),
    ).otherwise(F.lit(0.0))
    ev = ev.withColumn("step", step)
    cum = F.sum("step").over(w.rowsBetween(Window.unboundedPreceding, 0))
    # report in value·hours: /3600 makes the decimals non-terminating so
    # round() never lands on a representable decimal tie in either engine
    return ev.select(
        "event_id", "user_id", F.round(cum / 3600.0, R).alias("cum_integral_h")
    )


SQL_INTEGRATE = f"""
SELECT event_id, user_id,
    round(sum(step) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                          ROWS UNBOUNDED PRECEDING) / 3600.0, {R}) AS cum_integral_h
FROM (
    SELECT event_id, user_id, ts,
        coalesce((value + lag(value) OVER w) / 2.0
                 * ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6), 0.0) AS step
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
)
"""


# ---------------------------------------------------- aggregates / search


def q_first_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First timestamp where |value| ≥ 1.5× the user's mean |value| — the
    Famp1.5 first-crossing search (rotd50.f:238-246): min over a filtered
    set, not a sort.  Also covers A1 peak=max|x| via the threshold
    aggregate and J2 broadcast join of the per-user dim.

    The threshold test is EXACT integer arithmetic:
    |v| ≥ 1.5·Σ|v|/n  ⟺  2·n·|v_c| ≥ 3·Σ|v_c| in cents — a raw float
    avg would make boundary rows knife-edge on the engines' differing
    float summation orders."""
    ev = _events(spark, sf_dir)
    thr = ev.groupBy("user_id").agg(
        F.sum(F.abs(_cents(F.col("value")))).alias("sum_abs_c"),
        F.count(F.lit(1)).alias("n"),
    )
    j = ev.join(F.broadcast(thr), "user_id")
    return (
        j.where(
            2 * F.col("n") * F.abs(_cents(F.col("value")))
            >= 3 * F.col("sum_abs_c")
        )
        .groupBy("user_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_crossing_ts"
            )
        )
    )


SQL_FIRST_CROSSING = f"""
WITH thr AS (
    SELECT user_id,
           CAST(sum(abs({_C})) AS BIGINT) AS sum_abs_c,
           count(*) AS n
    FROM events GROUP BY user_id
)
SELECT e.user_id,
       strftime(min(e.ts), '%Y-%m-%d %H:%M:%S') AS first_crossing_ts
FROM events e JOIN thr USING (user_id)
WHERE 2 * thr.n * abs({_C.replace('value', 'e.value')}) >= 3 * thr.sum_abs_c
GROUP BY e.user_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap per user (the
    synchronize/time-alignment family, process_timeseries.py:45-141,
    recast as the standard lag+cumsum session pattern).  Events-per-
    session is reported as exact milli-integer division (×1000 DIV),
    not a rounded float — cross-engine stable."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    ev = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return ev.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.expr("(count(1) * 1000) div max(session_id)").alias(
            "events_per_session_milli"
        ),
    )


SQL_SESSIONIZE = """
WITH g AS (
    SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) > 1800000000
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_s
    FROM events
), s AS (
    SELECT user_id,
        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM g
)
SELECT user_id, max(session_id) AS n_sessions,
       (count(*) * 1000) // max(session_id) AS events_per_session_milli
FROM s GROUP BY user_id
"""


# ----------------------------------------------------------------- joins


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J1 time alignment as a join): for each event, the
    user's most recent order placed at or before the event timestamp.

    Spark lacks a native as-of join; the scalable composition is the
    UNION-STREAM form: interleave both tables on the key, sort within
    key by (time, side) so each order precedes any event at the same
    instant (the ≤ semantics), and carry the most recent order forward
    with a running ``last(ignore nulls)`` window.  Every row crosses the
    shuffle exactly once and is touched once by the running frame —
    O(events + orders) per key, unlike the equi-join + range-predicate
    form whose candidate set is O(events × prior-orders) per key
    (quadratic in per-key history: the round-2 VERDICT scale-killer)."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("custkey"), "ts", "event_id"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        "o_orderkey",
        "o_totalprice",
    )
    _ORD_T = "struct<o_orderkey:bigint,o_totalprice:double>"
    stream = orders.select(
        "custkey",
        "ts",
        F.lit(0).alias("kind"),  # orders first at equal ts → '≤' semantics
        F.lit(None).cast("long").alias("event_id"),
        F.struct("o_orderkey", "o_totalprice").alias("ord"),
    ).unionByName(
        ev.select(
            "custkey",
            "ts",
            F.lit(1).alias("kind"),
            "event_id",
            F.lit(None).cast(_ORD_T).alias("ord"),
        )
    )
    # ties among same-day orders resolve to the max orderkey: ascending
    # (ts, kind, orderkey) order makes it the LAST non-null seen
    w = (
        Window.partitionBy("custkey")
        .orderBy("ts", "kind", F.col("ord.o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        stream.withColumn("best", F.last("ord", ignorenulls=True).over(w))
        .where((F.col("kind") == 1) & F.col("best").isNotNull())
        .select(
            "event_id",
            F.col("best.o_orderkey").alias("asof_orderkey"),
            _cents(F.col("best.o_totalprice")).alias("asof_totalprice_c"),
        )
    )


SQL_ASOF_JOIN = """
SELECT event_id, o_orderkey AS asof_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS asof_totalprice_c
FROM (
    SELECT e.event_id, o.o_orderkey, o.o_totalprice,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
    FROM events e JOIN orders o ON o.o_custkey = e.user_id
    WHERE o.o_orderdate <= e.ts
) WHERE rn = 1
"""


# ------------------------------------------------- relational classics


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the canonical multi-agg groupBy
    (SURVEY §2.4; Catalyst partial+final hash aggregate)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # explicit floor: bare double→int casts disagree across
            # engines on non-integral values (Spark truncates, DuckDB
            # rounds) — floor pins one semantics on both sides
            F.sum(F.floor("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_price_c"),
            # price(2dp) × (1-disc)(2dp) = exact 4dp → ×1e4 integer sum
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            ).alias("sum_disc_price_e4"),
            F.sum(_cents(F.col("l_discount"))).alias("sum_disc_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_base_price_c,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) AS sum_disc_price_e4,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top3_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (SURVEY §2.6 — absent in reference, free in
    Spark): 3 highest-price lineitems per supplier.  Also the registry's
    ranking/argmax evidence (row_number pick, O-family)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # r9: key-spread small inputs before the window — the map-side
    # WindowGroupLimit prune sorts the full table in the scan stage,
    # which a single-row-group file pins to one task; hash(l_suppkey)
    # pre-satisfies the window's distribution (one exchange either way)
    # and the sort+rank run post-shuffle in parallel.  No-op at scale.
    li = _ensure_parallelism(
        li.select(
            "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
        ),
        "l_suppkey",
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select(
            "l_suppkey",
            "rnk",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


SQL_TOP3_PER_SUPPLIER = """
SELECT l_suppkey, rnk, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM (
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           row_number() OVER (PARTITION BY l_suppkey
                              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
    FROM lineitem
) WHERE rnk <= 3
"""


# -------------------------------------------------------- padding removal


def q_remove_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 remove_padding (remove_bbp_padding.py:49-110) on the events
    stream: drop the first/last 5 rows per user in (ts, event_id)
    order and renumber from 0."""
    pad = 5
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    df = ev.withColumn("i", F.row_number().over(w) - 1).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return (
        df.where((F.col("i") >= pad) & (F.col("i") < F.col("n") - pad))
        .select(
            "user_id",
            (F.col("i") - pad).cast("long").alias("i"),
            "event_id",
            _cents(F.col("value")).alias("value_c"),
        )
    )


SQL_REMOVE_PADDING = """
WITH t AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) - 1 AS i,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events
)
SELECT user_id, i - 5 AS i, event_id,
       CAST(round(value * 100) AS BIGINT) AS value_c
FROM t WHERE i >= 5 AND i < n - 5
"""


# ------------------------------------------ oracle-checked signal kernels
# (the Arrow-kernel variants over the seeded fixtures stay rows-only in
# queries_signals.py; these re-express the SQL-expressible kernels over
# the shared parquet `events` table so the DRIVER value-checks them too)


def q_taper_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey (tapered-cosine) window applied per user series — the
    reference's taper op (W5, ts_library.py:964-990 via
    signal.windows.tukey; our NumPy kernel is dsp.tukey_window).  The
    symmetric closed form w(i) = 0.5·(1+cos(π·(j/edge − 1))) for
    j = min(i, n−1−i) < edge = α(n−1)/2, else 1, is expressible in both
    engines, so the window *shape itself* is value-checked (the Kaiser
    variant needs a Bessel series and stays pytest-pinned)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    i = (F.row_number().over(w) - 1).cast("double")
    n = F.count(F.lit(1)).over(wp)
    j = F.least(i, (n - 1) - i)
    edge = 0.25 * (n - 1)  # alpha = 0.5
    wt = F.when(
        j < edge, 0.5 * (1 + F.cos(math.pi * (j / edge - 1)))
    ).otherwise(F.lit(1.0))
    return ev.select(
        "event_id",
        "user_id",
        (F.round(wt, R) + F.lit(0.0)).alias("w_tukey"),
        (F.round(F.col("value") * wt, R) + F.lit(0.0)).alias("tapered"),
    )


SQL_TAPER_TUKEY = f"""
WITH t AS (
    SELECT event_id, user_id, value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) - 1
                AS DOUBLE) AS i,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events
), x AS (
    SELECT event_id, user_id, value,
           least(i, (n - 1) - i) AS j,
           0.25 * (n - 1) AS edge
    FROM t
)
SELECT event_id, user_id,
    round(CASE WHEN j < edge THEN 0.5 * (1 + cos(pi() * (j / edge - 1)))
               ELSE 1.0 END, {R}) + 0.0 AS w_tukey,
    round(value * CASE WHEN j < edge THEN 0.5 * (1 + cos(pi() * (j / edge - 1)))
                       ELSE 1.0 END, {R}) + 0.0 AS tapered
FROM x
"""


def q_rotmax_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RotD50 *rotation scan* (W9/A2, rotd50.f:185-235) value-checked
    end-to-end on real table data: build per-user (h1, h2) minute series
    from even/odd events, rotate through 36 azimuths (0°..175° step 5°),
    take the peak |rotated| per azimuth (A1), then the median-of-maxima
    across azimuths (D50) and the max (D100).  The median is the exact
    18th order statistic (a picked element, no interpolation arithmetic
    → engine-stable).  The oscillator-response half of RotD50 (an IIR
    recurrence) stays in the Arrow kernel, rows-only + pytest-pinned."""
    ev = _events(spark, sf_dir)
    # r9: sparse-bucket key spread for the grid aggregate (see
    # q_rollup_1m), and the 36-azimuth scan UNPIVOTED into 36 max()
    # aggregate columns instead of an explode: the rotation trig
    # constant-folds per azimuth (radians/cos/sin of literals), the
    # 36× row blowup and its (user, deg) exchange disappear, and the
    # median is the same exact 18th order statistic over the same 36
    # doubles — array_sort(array(p0..p175)) of the per-user maxima is
    # value-identical to sorting the collected explode rows, and
    # rotd100 = the 36th sorted element = max.
    pre = _ensure_parallelism(
        ev.select(
            "user_id",
            F.date_trunc("minute", "ts").alias("bucket"),
            "value",
            "event_id",
        ),
        "user_id",
        "bucket",
    )
    grid = pre.groupBy("user_id", "bucket").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_id") % 2 == 0, _cents(F.col("value")))),
            F.lit(0),
        ).alias("h1_c"),
        F.coalesce(
            F.sum(F.when(F.col("event_id") % 2 == 1, _cents(F.col("value")))),
            F.lit(0),
        ).alias("h2_c"),
    )
    degs = list(range(0, 176, 5))

    def _peak(deg: int) -> "F.Column":
        theta = F.radians(F.lit(deg).cast("double"))
        val = F.cos(theta) * F.col("h1_c") - F.sin(theta) * F.col("h2_c")
        return F.max(F.abs(val)).alias(f"p{deg}")

    peaks = grid.groupBy("user_id").agg(*[_peak(d) for d in degs])
    arr = F.array_sort(F.array(*[F.col(f"p{d}") for d in degs]))
    return peaks.select(
        "user_id",
        (F.round(F.element_at(arr, 18), 4) + F.lit(0.0)).alias("rotd50_peak"),
        (F.round(F.element_at(arr, len(degs)), 4) + F.lit(0.0)).alias(
            "rotd100_peak"
        ),
    )


SQL_ROTMAX_SCAN = f"""
WITH grid AS (
    SELECT user_id, date_trunc('minute', ts) AS bucket,
           coalesce(CAST(sum(CASE WHEN event_id % 2 = 0 THEN {_C} END) AS BIGINT),
                    0) AS h1_c,
           coalesce(CAST(sum(CASE WHEN event_id % 2 = 1 THEN {_C} END) AS BIGINT),
                    0) AS h2_c
    FROM events GROUP BY 1, 2
), ang AS (
    SELECT g.user_id, g.h1_c, g.h2_c, a.deg
    FROM grid g CROSS JOIN (SELECT unnest(generate_series(0, 175, 5)) AS deg) a
), peaks AS (
    SELECT user_id, deg,
           max(abs(cos(radians(CAST(deg AS DOUBLE))) * h1_c
                   - sin(radians(CAST(deg AS DOUBLE))) * h2_c)) AS peak
    FROM ang GROUP BY user_id, deg
)
SELECT user_id,
       round((array_agg(peak ORDER BY peak))[18], 4) + 0.0 AS rotd50_peak,
       round(max(peak), 4) + 0.0 AS rotd100_peak
FROM peaks GROUP BY user_id
"""


# ----------------------------------------- oracle-checked streaming tier


def _stream_src_dir(src: str, tag: str) -> str:
    """Deterministic per-(source, query) symlink dir for the static-file
    streaming queries — replaces per-invocation mkdtemp, which leaked
    one directory per gate/bench run (ADVICE r8).  Idempotent: the same
    source re-resolves to the same dir and the symlink is only created
    once."""
    import hashlib
    import os
    import tempfile

    digest = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"ts_stream_{tag}_{digest}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(src), link)
    return d


def _fresh_memory_sink_name(spark: SparkSession, tag: str, src: str) -> str:
    """Deterministic memory-sink table name, dropping any previous
    invocation's table first — repeated gate/bench runs no longer
    accumulate session-lifetime in-memory tables (ADVICE r8)."""
    import hashlib
    import os

    digest = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    name = f"q{tag}_{digest}"
    spark.catalog.dropTempView(name)
    return name


def q_streaming_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming raw→1m over the events table (10-minute
    watermark, tumbling 1-minute windows, append mode, driven to
    completion with processAllAvailable).  Append emits FINALIZED
    windows only — window_end ≤ max(event time) − watermark — and the
    DuckDB oracle applies exactly that cutoff, so even the streaming
    path is value-checked."""
    import os

    src = os.path.join(sf_dir, "events.parquet")
    d = _stream_src_dir(src, "1m")
    schema = spark.read.parquet(src).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.window("ts", "1 minute").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_c"),
            F.max(F.abs(F.col("value"))).alias("peak_abs_value"),
        )
    )
    name = _fresh_memory_sink_name(spark, "1m", src)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").select(
        "user_id",
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "n_events",
        "sum_value_c",
        F.round("peak_abs_value", R).alias("peak_abs_value"),
    )


SQL_STREAMING_ROLLUP_1M = f"""
WITH w AS (
    SELECT user_id, date_trunc('minute', ts) AS b,
           count(*) AS n_events,
           CAST(sum({_C}) AS BIGINT) AS sum_value_c,
           round(max(abs(value)), {R}) AS peak_abs_value
    FROM events GROUP BY 1, 2
), mx AS (SELECT max(ts) AS m FROM events)
SELECT user_id, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       n_events, sum_value_c, peak_abs_value
FROM w, mx
WHERE b + INTERVAL 1 MINUTE <= m - INTERVAL 10 MINUTE
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator under the value gate
    (VERDICT r6 #3): streaming sessionization via applyInPandasWithState
    (streaming/ingest.stream_sessionize, 30-min gap, 10-min watermark)
    driven to completion over the static events table.

    Determinism contract: the symlinked single parquet file arrives in
    ONE data micro-batch (watermark still 0 → no rows dropped as late,
    every session still open, an event-time timeout armed per conv);
    Spark then runs a no-data batch at the advanced watermark, firing
    the timeouts, which seal and emit exactly the sessions with
    session_end + gap < watermark — where the final watermark is
    floor(max(event ts)/1ms) − 10 min.  The DuckDB oracle reproduces
    that cutoff over batch-computed sessions, so even the stateful
    streaming path is value-checked (same technique as
    streaming_rollup_1m, which covers the built-in windowed-agg class;
    this covers the custom-state class)."""
    import os

    from ts_process_spark.streaming.ingest import stream_sessionize

    src = os.path.join(sf_dir, "events.parquet")
    d = _stream_src_dir(src, "sess")
    schema = spark.read.parquet(src).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    turns = raw.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
    )
    sess = stream_sessionize(turns, gap_s=1800)
    name = _fresh_memory_sink_name(spark, "sess", src)
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").select(
        "conv_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_turns",
        "sum_text_len",
    )


SQL_STREAM_SESSIONIZE = """
WITH e AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id, ts,
           CAST(length(coalesce(props, '')) AS BIGINT) AS text_len,
           epoch_us(ts) AS us
    FROM events WHERE ts IS NOT NULL
), g AS (
    SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
                     OR lag(us) OVER w IS NULL
                   THEN 1 ELSE 0 END AS new_s
    FROM e WINDOW w AS (PARTITION BY conv_id ORDER BY us)
), s AS (
    SELECT *, sum(new_s) OVER (PARTITION BY conv_id ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM g
), agg AS (
    SELECT conv_id, sid,
           min(ts) AS session_start, max(ts) AS session_end,
           max(us) AS end_us,
           count(*) AS n_turns,
           CAST(sum(text_len) AS BIGINT) AS sum_text_len
    FROM s GROUP BY 1, 2
), wm AS (
    -- Spark's watermark: floor(max event time to ms) - 10 min, in µs
    SELECT (max(epoch_us(ts)) // 1000 - 600000) * 1000 AS wm_us
    FROM events WHERE ts IS NOT NULL
)
SELECT conv_id,
       strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_turns, sum_text_len
FROM agg, wm
WHERE end_us + 1800000000 < wm_us
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state-store dedup streaming class under the value gate
    (VERDICT r7 #6): streaming exact dedup via
    dropDuplicatesWithinWatermark (streaming/ingest.stream_exact_dedup)
    driven to completion over the static events table, same
    single-micro-batch delivery technique as stream_sessionize.

    Determinism contract: the watermark delay (3650 days) exceeds the
    fixture's whole time span, so within-delay dedup — the operator's
    GUARANTEE, not an implementation accident of batch boundaries — is
    total: exactly one row survives per distinct (conv_id, text-digest)
    key.  WHICH physical row survives (its ts) is arrival-order
    dependent, and the digest is xxhash64 (not DuckDB-reproducible), so
    the gate projects the deterministic surface: (conv_id, text) of the
    kept rows, which the oracle reproduces as SELECT DISTINCT.  A
    streaming bug that emits a duplicate or drops a key breaks the
    row-count and hash.  The watermark EVICTION behavior (keys expiring
    from state) is pinned separately by pytest
    (tests/test_streaming.py)."""
    import os

    from ts_process_spark.streaming.ingest import stream_exact_dedup

    src = os.path.join(sf_dir, "events.parquet")
    d = _stream_src_dir(src, "dedup")
    schema = spark.read.parquet(src).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    turns = raw.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
    )
    kept = stream_exact_dedup(turns, watermark="3650 days")
    name = _fresh_memory_sink_name(spark, "dedup", src)
    q = (
        kept.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT conv_id, text FROM {name}")


SQL_STREAM_DEDUP = """
SELECT DISTINCT CAST(user_id AS VARCHAR) AS conv_id,
       coalesce(props, '') AS text
FROM events WHERE ts IS NOT NULL
"""


# ------------------------------------------- oracle-checked tier cascade


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events mapped into the engine's transcript shape
    (BASELINE.json input_hint), with every 37th turn's ts nulled so the
    cascade exercises linear gap-fill (rotd50.f:284-305 InterpTime
    semantics) under oracle check."""
    ev = _events(spark, sf_dir)
    # r9: partition the turn-numbering window by the CASTED conv key —
    # the same expression the downstream gap-fill/rollup windows key on
    # — so the whole raw→1m chain shares ONE exchange (hash(user_id)
    # does not satisfy clustering on cast(user_id as string); keying
    # this window on the cast removed a second 1M-row exchange).  The
    # cast is injective per user, so row numbering is unchanged.
    w = Window.partitionBy(F.col("user_id").cast("string")).orderBy(
        "ts", "event_id"
    )
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        # NULL props → '' (the entry() contract): a null text must cost
        # length 0, not a null that the two engines' string_agg/concat_ws
        # skip differently (and that the blob encoder cannot carry)
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.when(F.col("event_id") % 37 != 0, F.col("ts")).alias("ts"),
    )


def q_cascade_1m_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship raw→1m rollup (gap-fill + one hash-aggregate), in
    md5-hash mode so every non-blob column — including the per-turn-text
    chain hash — is DuckDB-checkable."""
    from ts_process_spark.operators.rollup import rollup_raw_to_1m

    t = rollup_raw_to_1m(_events_as_transcripts(spark, sf_dir), hash_name="md5")
    return t.select(
        "conv_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        F.col("mean_text_len"),
        F.col("first_turn_idx").cast("long").alias("first_turn_idx"),
        F.col("last_turn_idx").cast("long").alias("last_turn_idx"),
        F.unix_micros("first_ts").alias("first_us"),
        F.unix_micros("last_ts").alias("last_us"),
        F.col("mean_gap_s"),
        "text_hash",
    )


def q_cascade_1d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full raw→1m→1h→1d chain; the 1d text_hash is a 3-deep chain of
    bucket-ordered child hashes, reproduced in the oracle's nested
    CTEs — an exact-tier-point check across every retention tier."""
    from ts_process_spark.operators.rollup import full_cascade

    t = full_cascade(_events_as_transcripts(spark, sf_dir), hash_name="md5")["1d"]
    return t.select(
        "conv_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        F.col("first_turn_idx").cast("long").alias("first_turn_idx"),
        F.col("last_turn_idx").cast("long").alias("last_turn_idx"),
        F.unix_micros("first_ts").alias("first_us"),
        F.unix_micros("last_ts").alias("last_us"),
        F.col("mean_gap_s"),
        "text_hash",
    )


_SQL_CASCADE_FILLED = """
WITH raw AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) - 1
               AS turn_idx,
           length(coalesce(props, '')) AS text_len,
           md5(coalesce(props, '')) AS th,
           CASE WHEN event_id % 37 <> 0 THEN epoch_us(ts) END AS us
    FROM events
), marked AS (
    SELECT *,
        last_value(CASE WHEN us IS NOT NULL THEN turn_idx END IGNORE NULLS)
            OVER w_f AS prev_i,
        last_value(CASE WHEN us IS NOT NULL THEN us END IGNORE NULLS)
            OVER w_f AS prev_us,
        first_value(CASE WHEN us IS NOT NULL THEN turn_idx END IGNORE NULLS)
            OVER w_b AS next_i,
        first_value(CASE WHEN us IS NOT NULL THEN us END IGNORE NULLS)
            OVER w_b AS next_us
    FROM raw
    WINDOW
        w_f AS (PARTITION BY conv_id ORDER BY turn_idx, us NULLS FIRST
                ROWS UNBOUNDED PRECEDING),
        w_b AS (PARTITION BY conv_id ORDER BY turn_idx, us NULLS FIRST
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), filled AS (
    SELECT conv_id, turn_idx, text_len, th,
        CASE WHEN us IS NULL THEN 1 ELSE 0 END AS gf,
        CASE WHEN us IS NOT NULL THEN us
             WHEN prev_us IS NOT NULL AND next_us IS NOT NULL
                  AND next_i <> prev_i
                 THEN prev_us + ((next_us - prev_us) * (turn_idx - prev_i))
                      // (next_i - prev_i)
             ELSE coalesce(prev_us, next_us) END AS us_f
    FROM marked
), t1m AS (
    SELECT conv_id,
        date_trunc('minute', make_timestamp(us_f)) AS bucket_1m,
        count(*) AS n_turns,
        CAST(sum(gf) AS BIGINT) AS n_gapfilled,
        CAST(sum(text_len) AS BIGINT) AS sum_text_len,
        max(text_len) AS peak_text_len,
        min(turn_idx) AS first_turn_idx,
        max(turn_idx) AS last_turn_idx,
        min(us_f) AS first_us,
        max(us_f) AS last_us,
        md5(string_agg(th, chr(31) ORDER BY turn_idx)) AS text_hash
    FROM filled
    WHERE us_f IS NOT NULL
    GROUP BY 1, 2
)
"""

SQL_CASCADE_1M_EVENTS = _SQL_CASCADE_FILLED + """
SELECT conv_id,
    strftime(bucket_1m, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
    n_turns, n_gapfilled, sum_text_len, peak_text_len,
    sum_text_len::DOUBLE / n_turns AS mean_text_len,
    first_turn_idx, last_turn_idx, first_us, last_us,
    CASE WHEN n_turns > 1
         THEN (last_us - first_us) / 1e6 / (n_turns - 1) END AS mean_gap_s,
    text_hash
FROM t1m
"""

SQL_CASCADE_1D_EVENTS = _SQL_CASCADE_FILLED + """
, t1h AS (
    SELECT conv_id,
        date_trunc('hour', bucket_1m) AS bucket_1h,
        CAST(sum(n_turns) AS BIGINT) AS n_turns,
        CAST(sum(n_gapfilled) AS BIGINT) AS n_gapfilled,
        CAST(sum(sum_text_len) AS BIGINT) AS sum_text_len,
        max(peak_text_len) AS peak_text_len,
        min(first_turn_idx) AS first_turn_idx,
        max(last_turn_idx) AS last_turn_idx,
        min(first_us) AS first_us,
        max(last_us) AS last_us,
        md5(string_agg(text_hash, chr(31) ORDER BY bucket_1m)) AS text_hash
    FROM t1m GROUP BY 1, 2
), t1d AS (
    SELECT conv_id,
        date_trunc('day', bucket_1h) AS bucket_1d,
        CAST(sum(n_turns) AS BIGINT) AS n_turns,
        CAST(sum(n_gapfilled) AS BIGINT) AS n_gapfilled,
        CAST(sum(sum_text_len) AS BIGINT) AS sum_text_len,
        max(peak_text_len) AS peak_text_len,
        min(first_turn_idx) AS first_turn_idx,
        max(last_turn_idx) AS last_turn_idx,
        min(first_us) AS first_us,
        max(last_us) AS last_us,
        md5(string_agg(text_hash, chr(31) ORDER BY bucket_1h)) AS text_hash
    FROM t1h GROUP BY 1, 2
)
SELECT conv_id,
    strftime(bucket_1d, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
    n_turns, n_gapfilled, sum_text_len, peak_text_len,
    first_turn_idx, last_turn_idx, first_us, last_us,
    CASE WHEN n_turns > 1
         THEN (last_us - first_us) / 1e6 / (n_turns - 1) END AS mean_gap_s,
    text_hash
FROM t1d
"""


def q_cascade_blob_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gorilla/DoD BLOB PAYLOAD value-checked at the driver: run the
    full raw→1m→1h→1d cascade, DECODE every 1d row's ts/val blobs
    through the real codecs (delta-of-delta timestamps, Gorilla XOR
    floats, chunked-container concat across two tiers), and emit exact
    integer functionals of the decoded point set — count, xor-fold,
    min/max of the decoded timestamps, sum of the decoded values.  The
    DuckDB oracle recomputes the same functionals from the raw events
    (including gap-fill), so encode→concat→concat→decode must be
    LOSSLESS point-for-point to hash-match.  This retires the last
    blob-shaped rows-only check (bit-level layout stays pytest-pinned,
    tests/test_codecs.py)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ts_process_spark.functions.codecs import decode_dod, decode_gorilla
    from ts_process_spark.operators.rollup import full_cascade

    t1d = full_cascade(_events_as_transcripts(spark, sf_dir))["1d"]
    slim = t1d.select(
        "conv_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "ts_blob",
        "val_blob",
    ).repartition(
        # explicit width for the Python decode stage: AQE's byte-size
        # coalescing can't see per-row decode cost and serializes it
        # (measured 3 tasks for 40k blob rows)
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv, b, tb, vb in zip(
                pdf["conv_id"], pdf["bucket_ts"], pdf["ts_blob"], pdf["val_blob"]
            ):
                ts = decode_dod(bytes(tb))
                val = decode_gorilla(bytes(vb))
                rows.append(
                    (
                        conv,
                        b,
                        len(ts),
                        int(np.bitwise_xor.reduce(ts)) if len(ts) else 0,
                        int(ts.min()),
                        int(ts.max()),
                        int(val.sum()),  # exact: text lengths < 2^53
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id", "bucket_ts", "n_pts", "ts_xor", "ts_min",
                    "ts_max", "val_sum",
                ],
            )

    return slim.mapInPandas(
        run,
        "conv_id string, bucket_ts string, n_pts long, ts_xor long, "
        "ts_min long, ts_max long, val_sum long",
    )


SQL_CASCADE_BLOB_ROUNDTRIP = _SQL_CASCADE_FILLED + """
SELECT conv_id,
    strftime(date_trunc('day', make_timestamp(us_f)), '%Y-%m-%d %H:%M:%S')
        AS bucket_ts,
    count(*) AS n_pts,
    CAST(bit_xor(us_f) AS BIGINT) AS ts_xor,
    min(us_f) AS ts_min,
    max(us_f) AS ts_max,
    CAST(sum(text_len) AS BIGINT) AS val_sum
FROM filled
WHERE us_f IS NOT NULL
GROUP BY 1, 2
"""


def queries_ts() -> dict[str, object]:
    return {
        "cascade_1m_events": q_cascade_1m_events,
        "cascade_1d_events": q_cascade_1d_events,
        "cascade_blob_roundtrip": q_cascade_blob_roundtrip,
        "streaming_rollup_1m": q_streaming_rollup_1m,
        "remove_padding": q_remove_padding,
        "rollup_1m": q_rollup_1m,
        "rollup_tiers": q_rollup_tiers,
        "gapfill_linear": q_gapfill_linear,
        "window_kernels": q_window_kernels,
        "integrate_trapezoid": q_integrate,
        "first_crossing": q_first_crossing,
        # round 7 (VERDICT r6 #3): the batch `sessionize` twin left the
        # gate (strict pin in tests/test_rotated_out_slots.py) so the
        # custom-STATE streaming class — applyInPandasWithState with an
        # event-time timeout — gets a value-checked slot; the streaming
        # query subsumes the batch one's session semantics.
        "stream_sessionize": q_stream_sessionize,
        # round 8 (VERDICT r7 #6): the state-store dedup streaming class
        # (dropDuplicatesWithinWatermark) joins the gate alongside the
        # windowed-agg (streaming_rollup_1m) and custom-state
        # (stream_sessionize) classes.
        "stream_dedup": q_stream_dedup,
        "asof_join": q_asof_join,
        # Rotated out of the 50-slot gate and kept only because the
        # frozen bench.py times them: sessionize, pricing_summary and
        # top3_per_supplier (strict pin in tests/test_rotated_out_slots).
        "taper_tukey": q_taper_tukey,
        "rotmax_scan": q_rotmax_scan,
    }


def oracles_ts() -> dict[str, str]:
    return {
        "cascade_1m_events": SQL_CASCADE_1M_EVENTS,
        "cascade_1d_events": SQL_CASCADE_1D_EVENTS,
        "cascade_blob_roundtrip": SQL_CASCADE_BLOB_ROUNDTRIP,
        "streaming_rollup_1m": SQL_STREAMING_ROLLUP_1M,
        "remove_padding": SQL_REMOVE_PADDING,
        "rollup_1m": SQL_ROLLUP_1M,
        "rollup_tiers": SQL_ROLLUP_TIERS,
        "gapfill_linear": SQL_GAPFILL_LINEAR,
        "window_kernels": SQL_WINDOW_KERNELS,
        "integrate_trapezoid": SQL_INTEGRATE,
        "first_crossing": SQL_FIRST_CROSSING,
        "stream_sessionize": SQL_STREAM_SESSIONIZE,
        "stream_dedup": SQL_STREAM_DEDUP,
        "asof_join": SQL_ASOF_JOIN,
        "taper_tukey": SQL_TAPER_TUKEY,
        "rotmax_scan": SQL_ROTMAX_SCAN,
    }
