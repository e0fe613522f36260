"""Queries rotated out of the 50-entry registry gate that stay in
queries_ts.py: top3_per_supplier, sessionize and pricing_summary.

They stay because the frozen bench.py times them.  This test keeps them
green with the same strict value compare the gate applies, so the
timings bench.py reports are for correct queries.
"""

from __future__ import annotations

import duckdb

import ts_process_spark.queries_ts as QT

SF = "/root/testdata/sf0.001"


def test_rotated_out_slots_match_oracles(spark):
    con = duckdb.connect()
    for t in ("events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    pairs = [
        (QT.q_top3_per_supplier, QT.SQL_TOP3_PER_SUPPLIER),
        (QT.q_sessionize, QT.SQL_SESSIONIZE),
        (QT.q_pricing_summary, QT.SQL_PRICING_SUMMARY),
    ]
    for fn, sql in pairs:
        df = fn(spark, SF)
        cols = df.columns
        got = sorted(tuple(r[c] for c in cols) for r in df.collect())
        want_rel = con.execute(sql)
        duck_cols = [d[0] for d in want_rel.description]
        assert duck_cols == cols, (fn.__name__, duck_cols, cols)
        want = sorted(tuple(r) for r in want_rel.fetchall())
        assert got == want, fn.__name__
