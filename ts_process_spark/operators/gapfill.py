"""Linear-interpolation gap-fill of missing turn timestamps.

Reference analog: ts-process resamples every series to a common dt with
interpolation (`/root/reference/ts_process/ts_library.py:896-962`; the
linear kernel is its Fortran `InterpTime`,
`/root/reference/ts_process/rotd50/rotd50.f:284-305`).  Our input is a
transcript table where ~2% of turns have ``ts IS NULL``; the engine
reconstructs them by linear interpolation between the nearest non-null
timestamps *in turn order*, exactly and deterministically:

    ts[i] = prev_ts + ((next_ts - prev_ts) * (i - prev_i)) DIV (next_i - prev_i)

— all int64 microsecond arithmetic with floor division, so the result is
bit-stable regardless of partitioning and reproducible in the DuckDB
oracle with the same integer expression.  Leading (no previous known) and
trailing (no next known) nulls clamp to the nearest known timestamp.

A turn that arrives twice (once with ``ts`` lost, once known) is ordered
by ``(turn_idx, ts NULLS FIRST)``: the lost copy sits before the known
one, so it interpolates toward it, whatever the input layout or
partition count.

Implementation is pure JVM window functions — no UDF, whole-stage
codegen end to end; the only shuffle is the per-``conv_id`` exchange,
which the downstream rollup's ``groupBy(conv_id, bucket)`` reuses
(HashPartitioning(conv_id) satisfies the clustered distribution), so
gap-fill + rollup is a single-shuffle plan at any scale.  Both lookups
share ONE ordering, so the plan has one Sort and one Window:

- "prev known" is ``last(..) IGNORE NULLS`` over the growing frame
  (unbounded preceding → current row), which Spark evaluates
  incrementally in O(n);
- "next known" is ``lead(.., 1) IGNORE NULLS``, which walks forward
  once per partition, also O(n).

The tempting ``first(..) IGNORE NULLS`` over an unbounded-FOLLOWING
frame re-aggregates the frame per row — O(n²) on a hot conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_W = "PARTITION BY conv_id ORDER BY turn_idx, ts NULLS FIRST"
_KNOWN = (
    "CASE WHEN ts IS NOT NULL"
    " THEN named_struct('i', turn_idx, 'us', unix_micros(ts)) END"
)
# interior: exact int64 interp with `div` (both operands positive, so
# Spark's truncating div == DuckDB's `//`); edges: clamp to nearest.
_INTERP_US = (
    "CASE WHEN _prev.us IS NOT NULL AND _next.us IS NOT NULL"
    " AND _next.i != _prev.i"
    " THEN _prev.us + ((_next.us - _prev.us)"
    " * (CAST(turn_idx AS BIGINT) - _prev.i)) div (_next.i - _prev.i)"
    " ELSE coalesce(_prev.us, _next.us) END"
)


def gapfill_ts(df: DataFrame) -> DataFrame:
    """Add ``ts_filled`` (timestamp, never null if the conv has ≥1 known
    ts) and ``gapfilled`` (boolean) to a transcript DataFrame."""
    return (
        df.selectExpr(
            "*",
            f"last({_KNOWN}) IGNORE NULLS OVER ({_W}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _prev",
            f"lead({_KNOWN}, 1) IGNORE NULLS OVER ({_W}) AS _next",
        )
        .selectExpr(
            "*",
            f"coalesce(ts, timestamp_micros({_INTERP_US})) AS ts_filled",
            "ts IS NULL AND coalesce(_prev.us, _next.us) IS NOT NULL AS gapfilled",
        )
        .drop("_prev", "_next")
    )


# The DuckDB oracle SQL for gap-fill lives inline in
# queries_ts._SQL_CASCADE_FILLED / SQL_GAPFILL_LINEAR (the forms the
# driver actually runs); an earlier template here drifted from the
# engine's gapfilled definition on all-null conversations and was
# removed rather than fixed (review finding: dead code with divergent
# semantics is worse than no code).
