"""The retention-tier rollup cascade: raw → 1m → 1h → 1d.

Reference analog: ts-process downsamples every series to a coarser dt
(`/root/reference/ts_process/ts_library.py:896-962`; the integer-factor
`decimate` fast path at `:919-925` is exactly our exact-multiple tier
cascade), and extracts per-series aggregates — peak = max|x|
(`/root/reference/ts_process/rotd50/rotd50.f:272-281`), mean / DC level
(`/root/reference/ts_process/rotd50/ft_th.f:1-30`).  Here every tier is a
continuous aggregate over conversation turns:

Tier row (TIER_SCHEMA):
    conv_id, bucket_ts, n_turns, n_gapfilled, sum_text_len,
    peak_text_len, mean_text_len, first_turn_idx, last_turn_idx,
    first_ts, last_ts, mean_gap_s, text_hash, ts_blob, val_blob

- *Re-aggregable* measures (counts, sums, max, min/max, first/last) make
  the 1h tier computable from the 1m tier alone — the partial+final
  combine Catalyst does for a hash aggregate, made explicit across tiers.
- ``mean_text_len`` / ``mean_gap_s`` are derived (sum/count), never
  cascaded directly.
- ``text_hash``: xxhash64 over the turn-ordered concatenation of
  per-turn text hashes at the 1m tier (the per-turn text-equality
  surrogate, BASELINE.json:6 — per-turn hashes are computed map-side so
  no text bytes cross the shuffle); coarser tiers chain-hash the child
  hashes in bucket order.
- ``ts_blob`` / ``val_blob``: delta-of-delta timestamps + Gorilla XOR of
  the text-length signal for every point in the bucket; coarser tiers
  concatenate child blobs byte-wise into a chunked container (no
  decode/re-encode in the cascade — the immutable-chunk pattern from
  the Gorilla deployment; still lossless all the way down).

Execution shape (what survives a 1000-executor, 10^12-turn run):
- One shuffle for the whole raw→1m stage: the gap-fill window partitions
  by ``conv_id`` and ``groupBy(conv_id, bucket)`` reuses that exchange.
- Skew: bucket grain bounds group size at raw→1m (a hot conversation
  spreads over its minutes).  For the coarser tiers the group is
  (conv, hour|day) of *1m rows* (≤60/24 children), inherently bounded.
- All aggregates are JVM/codegen; the only Python is the pair of Arrow
  UDFs that ENCODE the 1m blobs (``codecs.encode_arrow``: list offsets
  and flattened values in, one binary buffer out — no per-bucket Python
  object either way).  The coarser tiers are pure JVM end to end: each
  child row's container parts (length-table bytes, body bytes) are
  projected before the exchange and joined in bucket order by
  ``listagg(.., X'') WITHIN GROUP (ORDER BY bucket_ts)`` — no lambda
  functions, no Python.
- Every tier is built from a few SQL strings (``selectExpr`` /
  ``F.expr``): a Column-API call costs ~13 py4j round trips, all paid
  before any job starts (tests/test_plans.py caps the three tiers).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ts_process_spark.functions.codecs import encode_arrow
from ts_process_spark.operators.gapfill import gapfill_ts

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}

TIER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket_ts", T.TimestampType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_gapfilled", T.LongType(), False),
        T.StructField("sum_text_len", T.LongType(), False),
        T.StructField("peak_text_len", T.LongType(), False),
        T.StructField("mean_text_len", T.DoubleType(), False),
        T.StructField("first_turn_idx", T.IntegerType(), False),
        T.StructField("last_turn_idx", T.IntegerType(), False),
        T.StructField("first_ts", T.TimestampType(), False),
        T.StructField("last_ts", T.TimestampType(), False),
        T.StructField("mean_gap_s", T.DoubleType(), True),
        T.StructField("text_hash", T.LongType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
    ]
)


@F.arrow_udf(T.BinaryType())
def _encode_dod_udf(ts_lists: pa.Array) -> pa.Array:
    return encode_arrow(ts_lists, "dod")


@F.arrow_udf(T.BinaryType())
def _encode_gorilla_udf(val_lists: pa.Array) -> pa.Array:
    return encode_arrow(val_lists, "gorilla")


def _le4(x: str) -> str:
    """SQL text: the little-endian uint32 bytes of the integer expression
    ``x`` — byte-identical to ``struct.pack('<I', x)`` for 0 <= x < 2^31
    (all chunk counts/lengths here).  hex() of the int, zero-padded to 8
    nibbles, decoded big-endian, then byte-reversed — every step a
    codegen built-in, no Python.

    Out of that range the padding would truncate to wrong bytes, so the
    row fails with ``raise_error`` instead, whatever the session's ANSI
    setting.  ``x`` is spelled out five times: pass a column or a cheap
    expression."""
    be = f"unhex(lpad(hex({x}), 8, '0'))"
    le = ", ".join(f"substring({be}, {i}, 1)" for i in (4, 3, 2, 1))
    return (
        f"CASE WHEN shiftright({x}, 31) = 0 THEN concat({le})"
        " ELSE raise_error(concat('blob container length or chunk count"
        f" out of u32 range: ', CAST({x} AS STRING))) END"
    )


def _hash_sql(hash_name: str) -> str:
    """Engine hash for per-turn text surrogates and tier chain-hashes.
    ``xxhash64`` (long) is the production default; ``md5`` (hex string)
    produces the same lattice with a hash DuckDB can replicate, making
    the whole cascade oracle-checkable (see queries_ts.cascade_*)."""
    if hash_name not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash {hash_name!r}")
    return hash_name


def rollup_raw_to_1m(raw: DataFrame, hash_name: str = "xxhash64") -> DataFrame:
    """raw transcript turns → 1-minute tier (includes gap-fill).

    Scale-critical projection: ``text`` is reduced to (length,
    xxhash64) MAP-SIDE, before the conv_id exchange — no raw text bytes
    ever cross the shuffle or sit in the per-bucket collected arrays.
    ``text_hash`` is therefore the xxhash64 of the turn-ordered
    concatenation of per-turn text hashes (an order-sensitive,
    collision-resistant surrogate for hashing the concatenated texts;
    the raw-grain per-turn text equality check stays at raw grain,
    tests/test_rollup.py::test_generator_matches_oracle_frame).

    A raw row with a NULL ``conv_id`` or ``turn_idx`` fails the job
    with ``raise_error`` naming the column: such a row has no tier key
    and no place in its conversation's turn order.  The check rides the
    scan's projection and keeps each column's nullability.
    """
    h = _hash_sql(hash_name)
    # NULL text normalizes to '' AT THE OPERATOR (not just in callers):
    # otherwise the turn stays in n_turns but drops out of sum/peak,
    # sum_text_len can go NULL against the non-null tier schema, and a
    # None text_len reaches the Gorilla blob as NaN (review finding)
    slim = raw.selectExpr(
        *(
            f"coalesce({c}, raise_error('rollup_raw_to_1m: raw row with NULL"
            f" {c}')) AS {c}"
            for c in ("conv_id", "turn_idx")
        ),
        "ts",
        "CAST(length(coalesce(text, '')) AS BIGINT) AS text_len",
        f"{h}(coalesce(text, '')) AS th",
    )
    pts = gapfill_ts(slim).where("ts_filled IS NOT NULL").selectExpr(
        "conv_id",
        "CAST(turn_idx AS BIGINT) AS turn_idx",
        "date_trunc('minute', ts_filled) AS bucket_ts",
        "unix_micros(ts_filled) AS ts_us",
        "CAST(gapfilled AS BIGINT) AS gf",
        "text_len",
        "th",
    )
    # one hash-aggregate; collect_list + array_sort pins the in-bucket
    # order to turn_idx so hashes and blobs are partition-count-invariant
    grouped = pts.groupBy("conv_id", "bucket_ts").agg(
        F.expr("count(1) AS n_turns"),
        F.expr("sum(gf) AS n_gapfilled"),
        F.expr("sum(text_len) AS sum_text_len"),
        F.expr("max(text_len) AS peak_text_len"),
        F.expr("CAST(min(turn_idx) AS INT) AS first_turn_idx"),
        F.expr("CAST(max(turn_idx) AS INT) AS last_turn_idx"),
        F.expr("min(ts_us) AS first_us"),
        F.expr("max(ts_us) AS last_us"),
        F.expr("array_sort(collect_list(struct(turn_idx, ts_us, text_len, th))) AS pts"),
    )
    return grouped.selectExpr(
        "conv_id",
        "bucket_ts",
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        "sum_text_len / n_turns AS mean_text_len",
        "first_turn_idx",
        "last_turn_idx",
        "timestamp_micros(first_us) AS first_ts",
        "timestamp_micros(last_us) AS last_ts",
        "CASE WHEN n_turns > 1"
        " THEN (last_us - first_us) / 1e6 / (n_turns - 1) END AS mean_gap_s",
        f"{h}(concat_ws(char(31), CAST(pts.th AS ARRAY<STRING>))) AS text_hash",
        # the blob columns hold the point lists until the encoders
        # below replace them in place
        "pts.ts_us AS ts_blob",
        "CAST(pts.text_len AS ARRAY<DOUBLE>) AS val_blob",
    ).withColumns(
        {
            "ts_blob": _encode_dod_udf("ts_blob"),
            "val_blob": _encode_gorilla_udf("val_blob"),
        }
    )


def rollup_cascade(
    child: DataFrame,
    tier: str,
    hash_name: str = "xxhash64",
) -> DataFrame:
    """Aggregate a finer tier (1m→1h or 1h→1d). ``tier`` ∈ {'1h','1d'}.

    Containers: a parent blob is ``[0xFFFFFFFF][n_chunks:u32][len_i:u32
    ...][chunks...]`` with child containers flattened, byte-identical to
    ``codecs.concat_blobs`` of the children in bucket order.  Each child
    row contributes two parts, projected before the exchange: its length
    bytes and its body.  A 1m child (no ``blob_n_chunks``) is one leaf
    chunk: its length entry is ``_le4(length(blob))`` and its body the
    blob.  A cascade child is a container: its length table and body are
    byte slices of the blob past the 8-byte header.  The aggregate joins
    each kind of part in bucket order with ``listagg``.

    Every cascade row carries ``blob_n_chunks``, the leaf (1m) chunks
    inside its blob: a 1m child counts 1.  Blobs are never capped, so a
    parent blob holds every point of its bucket; what bounds one is
    ``_le4`` (a chunk count or length past 2^31 raises) and Spark's
    binary ``concat``, which refuses a result past its array limit."""
    h = _hash_sql(hash_name)
    parent = f"date_trunc('{TIERS[tier]}', bucket_ts)"
    if "blob_n_chunks" in child.columns:
        # a cascade child's blob is a container: byte slices past its
        # 8-byte header are its length table and its body
        n = "blob_n_chunks"
        parts = {
            "ts_lens": "substring(ts_blob, 9, CAST(blob_n_chunks * 4 AS INT))",
            "ts_body": "substring(ts_blob, CAST(blob_n_chunks * 4 + 9 AS INT))",
            "val_lens": "substring(val_blob, 9, CAST(blob_n_chunks * 4 AS INT))",
            "val_body": "substring(val_blob, CAST(blob_n_chunks * 4 + 9 AS INT))",
        }
    else:
        # a 1m child's blob is one leaf chunk
        n = "CAST(1 AS BIGINT)"
        parts = {
            "ts_lens": _le4("length(ts_blob)"),
            "ts_body": "ts_blob",
            "val_lens": _le4("length(val_blob)"),
            "val_body": "val_blob",
        }
    rows = child.selectExpr(
        "conv_id",
        f"{parent} AS parent_ts",
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
        f"{n} AS n",
        *(f"{e} AS {k}" for k, e in parts.items()),
    )
    in_order = "WITHIN GROUP (ORDER BY bucket_ts)"
    grouped = rows.groupBy("conv_id", "parent_ts").agg(
        F.expr("sum(n_turns) AS n_turns"),
        F.expr("sum(n_gapfilled) AS n_gapfilled"),
        F.expr("sum(sum_text_len) AS sum_text_len"),
        F.expr("max(peak_text_len) AS peak_text_len"),
        F.expr("min(first_turn_idx) AS first_turn_idx"),
        F.expr("max(last_turn_idx) AS last_turn_idx"),
        F.expr("min(first_ts) AS first_ts"),
        F.expr("max(last_ts) AS last_ts"),
        F.expr(
            f"{h}(listagg(CAST(text_hash AS STRING), char(31)) {in_order})"
            " AS text_hash"
        ),
        *(
            F.expr(f"coalesce(listagg({k}, X'') {in_order}, X'') AS {k}")
            for k in parts
        ),
        F.expr("sum(n) AS blob_n_chunks"),
    )
    return grouped.selectExpr(
        "conv_id",
        "parent_ts AS bucket_ts",
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        "sum_text_len / n_turns AS mean_text_len",
        "first_turn_idx",
        "last_turn_idx",
        "first_ts",
        "last_ts",
        "CASE WHEN n_turns > 1 THEN (unix_micros(last_ts) - unix_micros(first_ts))"
        " / 1e6 / (n_turns - 1) END AS mean_gap_s",
        "text_hash",
        *(
            f"concat(X'FFFFFFFF', {_le4('blob_n_chunks')}, {b}_lens, {b}_body)"
            f" AS {b}_blob"
            for b in ("ts", "val")
        ),
        "blob_n_chunks",
    )


def full_cascade(
    raw: DataFrame, hash_name: str = "xxhash64"
) -> dict[str, DataFrame]:
    """raw → {'1m': df, '1h': df, '1d': df}. Each tier derives from the
    previous one (never re-reads raw) — the continuous-aggregate chain."""
    t1m = rollup_raw_to_1m(raw, hash_name)
    t1h = rollup_cascade(t1m, "1h", hash_name)
    t1d = rollup_cascade(t1h, "1d", hash_name)
    return {"1m": t1m, "1h": t1h, "1d": t1d}
