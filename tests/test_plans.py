"""Physical-plan shape regression tests — the 100-TB guarantees.

These pin the *plan*, not the results: filter/column pushdown reaching
the parquet scan, broadcast (never shuffle) joins against small dims,
exactly one exchange per cascade tier, whole-stage codegen on the
rollup aggregate, and no cartesian/nested-loop joins in the near-dup
pipelines.  A regression here is invisible at test scale but fatal at
1000 executors, which is why they are asserted, not eyeballed.
"""

from __future__ import annotations

import re
import threading

import pytest
from pyspark.sql import functions as F

from ts_process_spark import datagen
from ts_process_spark.operators.rollup import full_cascade

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_and_column_pushdown(spark):
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .where(F.col("user_id") == 7)
        .select("event_id", "value")
    )
    plan = _plan(ev)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(user_id,7)" in m.group(1), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # projection pruned to the 2 selected + 1 filter column — never full width
    assert cols == {"event_id", "user_id", "value"}, cols


def test_cascade_one_exchange_per_tier(spark):
    raw = datagen.transcripts(spark, n_convs=10, seed=3)
    tiers = full_cascade(raw)
    for tier, want in (("1m", 1), ("1h", 2), ("1d", 3)):
        plan = _plan(tiers[tier])
        n = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n == want, f"{tier}: {n} exchanges (want {want})\n{plan}"


def test_rollup_aggregate_shape(spark):
    """The 1m tier's aggregate must (a) combine map-side — partial
    aggregation before the exchange is what keeps the shuffle
    O(buckets) instead of O(turns) — and (b) touch Python only through
    the single Arrow batch stage for the blob codecs (never row-wise)."""
    raw = datagen.transcripts(spark, n_convs=5, seed=3)
    plan = _plan(full_cascade(raw)["1m"])
    assert "partial_count" in plan and "partial_collect_list" in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan  # no per-row Python, ever


def test_jvm_rollup_is_hash_aggregate(spark):
    """The pure-JVM events rollup (no array payloads) must stay in
    codegen-capable HashAggregate with no Python stages at all."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["rollup_1m"](spark, SF_DIR))
    assert "HashAggregate" in plan, plan
    assert "EvalPython" not in plan, plan


def test_dim_join_is_broadcast(spark):
    """first_crossing joins each event to its per-user threshold dim
    with an explicit broadcast: never a shuffle join."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["first_crossing"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_neardup_has_no_cartesian(spark):
    """Both the xxhash64 production paths (not driver-registered) and
    the md5 registry entries must stay bucketed equi-joins."""
    import __spark_entry__ as E
    from ts_process_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        dedup.minhash_dedup_pairs(docs, threshold=0.9),
        dedup.simhash_pairs(docs, max_hamming=3),
        E.queries()["doc_minhash_md5_neardup"](spark, SF_DIR),
        E.queries()["doc_simhash_md5_pairs"](spark, SF_DIR),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_gapfill_windows_are_growing_frames(spark):
    """The O(n²) regression guard: both gap-fill lookups must be
    incremental (a growing frame and a lead), never unbounded-following
    re-scans."""
    from ts_process_spark.operators.gapfill import gapfill_ts

    raw = datagen.transcripts(spark, n_convs=5, seed=3)
    plan = _plan(gapfill_ts(raw))
    assert "unboundedfollowing" not in plan.lower(), plan


def _sorts(plan: str) -> int:
    return len(re.findall(r"\bSort \[", plan))


def test_full_cascade_builds_in_few_py4j_calls(spark, monkeypatch):
    """Plan building runs before any job starts, and each Column-API
    call costs ~13 py4j round trips: the tiers are built from SQL
    strings, so building all three stays a few hundred calls (the
    Column-API form took thousands).  Only this thread's calls count:
    py4j's finalizer thread sends the deletes of garbage-collected
    proxies on its own schedule, whatever the build does."""
    raw = datagen.transcripts(spark, n_convs=5, seed=3)
    full_cascade(raw)  # first build creates the encoder UDFs' JVM twins
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    builder = threading.get_ident()
    calls = []

    def counting(self, *args, **kwargs):
        if threading.get_ident() == builder:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    full_cascade(raw)
    monkeypatch.undo()
    assert len(calls) <= 600, len(calls)


def test_1m_plan_sorts_once_under_conv_exchange(spark):
    """Gap-fill's two lookups (prev and next known) and the 1m
    aggregate share ONE sort of each conversation, directly above the
    conv_id exchange."""
    raw = datagen.transcripts(spark, n_convs=5, seed=3)
    plan = _plan(full_cascade(raw)["1m"])
    assert _sorts(plan) == 1, plan
    assert plan.count("Window [") == 1, plan
    assert re.search(
        r"Sort \[conv_id#\d+ ASC NULLS FIRST, turn_idx#\d+ ASC NULLS FIRST,"
        r" ts#\d+ ASC NULLS FIRST\].*\n\s*\+- Exchange hashpartitioning\(conv_id#",
        plan,
    ), plan


def test_gapfill_linear_sorts_once(spark):
    """q_gapfill_linear numbers rows and finds both known neighbours
    over one (ts, event_id) ordering: one Sort."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["gapfill_linear"](spark, SF_DIR))
    assert _sorts(plan) == 1, plan


def test_cascade_containers_plan_no_lambda(spark, tmp_path):
    """The 1h/1d containers are ordered listagg aggregates over parts
    projected per child row: an uncapped rollup_cascade over a tier read
    from parquet plans no lambda function and no Python."""
    from ts_process_spark.operators.rollup import rollup_cascade

    raw = datagen.transcripts(spark, n_convs=5, seed=3)
    child = full_cascade(raw)["1m"]
    for tier in ("1h", "1d"):
        path = str(tmp_path / tier)
        child.write.parquet(path)
        child = rollup_cascade(spark.read.parquet(path), tier)
        plan = _plan(child)
        assert "lambdafunction" not in plan.lower(), plan
        assert "EvalPython" not in plan, plan


def test_gapfill_hot_conversation_stays_linear(spark):
    """One conversation of 4× the turns takes well under 16× the time
    (the O(n²) signature): both lookups are incremental."""
    import time

    from ts_process_spark.operators.gapfill import gapfill_ts

    def seconds(n: int) -> float:
        hot = spark.range(n).selectExpr(
            "'hot' AS conv_id",
            "CAST(id AS INT) AS turn_idx",
            "CASE WHEN id % 7 != 3 THEN timestamp_micros(id * 1000000) END AS ts",
        )
        t0 = time.perf_counter()
        gapfill_ts(hot).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    seconds(200_000)  # warm-up: codegen and the first job
    small = min(seconds(200_000) for _ in range(2))
    big = seconds(800_000)
    assert big < 8 * small, (small, big)


def test_emb_neardup_default_is_blocked(spark):
    """The r1 scale bug: embedding_neardup_pairs defaulted to an
    a.id < b.id cartesian self-join.  The SRP-blocked default must plan
    as equi-joins only."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["emb_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rotmax_and_taper_stay_jvm(spark):
    """The new oracle-checked signal kernels are pure JVM plans: no
    Python stages, hash aggregates present, parquet scan pruned to the
    needed columns."""
    import re

    import __spark_entry__ as E

    for name in ("rotmax_scan", "taper_tukey", "window_kernels"):
        plan = _plan(E.queries()[name](spark, SF_DIR))
        assert "EvalPython" not in plan, name
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert "props" not in cols, (name, cols)  # widest column pruned


def test_registry_contract():
    """The driver evaluates exactly the first 50 registry entries in
    insertion order; the three query modules must register exactly 50
    with a non-None oracle for every SQL-expressible entry.  Enforced
    here (CI) rather than at driver runtime, where a partial registry
    should still be scored (__spark_entry__.queries degrades gracefully)."""
    import __spark_entry__ as E

    q = E.queries()
    assert len(q) == 50, sorted(q)
    o = E.oracle_sql()
    assert set(o) <= set(q), set(o) - set(q)
    # every oracle is non-empty SQL
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_asof_join_is_union_stream(spark):
    """The registered as-of join must be the union-stream + running
    last() form: no join node at all (the equi-join + range-predicate
    form materializes O(events × prior-orders) candidate rows per key —
    the round-2 VERDICT scale-killer), and exactly one exchange."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["asof_join"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1, plan


def test_signal_queries_prune_events_scan(spark):
    """The event-derived signal kernels must push column pruning to the
    events parquet scan — props (the widest column) never read."""
    import __spark_entry__ as E

    for name in ("signal_baseline_correct", "signal_process_dt",
                 "signal_synchronize", "signal_rotd50_grid63"):
        plan = _plan(E.queries()[name](spark, SF_DIR))
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert "props" not in cols, (name, cols)


def test_minhash_plan_shapes(spark):
    """Round-4 scale shapes stay pinned: (a) the signature pipeline is a
    single-exchange plan (keyed spread reused by the wide aggregate);
    (b) the verify stage broadcasts the CANDIDATE side — corpus token
    sets are never shuffled or broadcast."""
    from ts_process_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs_plan = _plan(dedup.minhash_signatures(docs, hash_mode="md5"))
    assert sigs_plan.count("Exchange hashpartitioning") == 1, sigs_plan
    full_plan = _plan(dedup.minhash_dedup_pairs(docs, 0.9, hash_mode="md5"))
    assert "SortMergeJoin" not in full_plan, full_plan
    # ONE broadcast probe of the bare pair ids against a single corpus
    # scan (token sets reassembled by hash aggregation, never broadcast)
    assert full_plan.count("BroadcastHashJoin") == 1, full_plan


def test_span_dedup_plan_shape(spark):
    """Span-level dedup stays JVM-side and join-bounded: no Python
    stages, no cartesian/nested-loop joins, exactly one per-doc Window
    (the interval union), and the occurrence count keeps its map-side
    partial aggregation — the properties that let the bounded
    len/stride explode survive a 100-TB corpus.  Checked in both hash
    modes; the dup-flag attach strategy is AQE's to pick at run time
    (it broadcasts a small duplicated-hash set)."""
    from ts_process_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for hash_mode in ("xxhash64", "md5"):
        plan = _plan(dedup.duplicated_span_stats(docs, hash_mode=hash_mode))
        assert "pythonUDF" not in plan and "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # one window operator: the per-doc running-max interval union
        assert plan.count("Window ") == 1, plan
        # the h-groupBy occurrence count runs partial (map-side combine
        # collapses hot boilerplate grams before the exchange)
        assert re.search(
            r"HashAggregate\(keys=\[h#[^\]]*\], functions=\[partial_count",
            plan,
        ), plan
        # single id-clustered pass: one final id aggregate, fed by the
        # Window's sort — not a second id exchange for totals
        id_aggs = re.findall(
            r"HashAggregate\(keys=\[id#[^\]]*\], functions=\[count\(1\)",
            plan,
        )
        assert len(id_aggs) == 1, plan
