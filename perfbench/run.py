"""Benchmark of record for ts_process_spark.

    python3 perfbench/run.py --workload {cascade,backfill_serve} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One closed-loop client in one process,
Spark at local[nproc] with nproc shuffle partitions.  The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The exit code is non-zero when an output
check fails or the run cannot start (for example when the package is
not next to this directory).  README.md here describes the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cascade", "backfill_serve")
DRIVER_MEM = "3g"  # 15 GiB host shared with the shuffle dir and Python workers

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


_T0 = time.perf_counter()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="ts_process_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, cores: int) -> dict:
    """Process environment for Spark on this host; returns extra_conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the Python workers Spark forks must import ts_process_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap fixed at its maximum from the start: run-to-run heap
        # resizing otherwise moves both latency and peak RSS
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
        # keep every job, stage and SQL execution of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark_and_wait() -> None:
    """Stop the session, the gateway JVM and the Python workers it forked,
    and wait until each has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from spans import process_tree

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    tree = process_tree(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while tree and time.time() < deadline:
        tree = [p for p in tree if _running(p)]
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ------------------------------------------------------------------ workloads


def serve_layers(run, t1h, convs: list[int], bucketed: bool) -> dict:
    """Serve the seeded request mix (traced runs): read-path metrics.
    Latencies are those of the executions without spans."""
    from statistics import median

    from spans import quantile

    run.serve(t1h, convs, bucketed, warm=True)
    mark = run.store.mark()
    requests, rows = run.serve(t1h, convs, bucketed)
    untraced = [(kind, ms) for kind, ms, on in requests if not on]
    lookups = [ms for kind, ms in untraced if kind == "lookup"]
    n_lookups = sum(kind == "lookup" for kind, _, _ in requests)
    scans = run.store.since(mark).in_group("lookup").scans()
    traced_ms = median([ms for _, ms, on in requests if on])
    untraced_ms = median([ms for _, ms in untraced])
    return {
        "read.lookup_p50_ms": median(lookups),
        "read.lookup_p75_ms": quantile(lookups, 0.75),
        "read.scan_p50_ms": median([ms for kind, ms in untraced if kind == "scan"]),
        "read.rows_scanned_per_row_returned": scans["rows"] / max(rows, 1),
        "read.files_per_lookup": scans["files"] / n_lookups,
        "read.bytes_per_lookup": scans["bytes"] / n_lookups,
        "trace.overhead_pct": 100.0 * (traced_ms - untraced_ms) / untraced_ms,
    }


def tier_layers(window) -> dict:
    out = {}
    for tier, w in window.by_write_tier().items():
        s = w.summary()
        for key in (
            "jobs", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "task_skew",
            "largest_stage_tasks",
        ):
            out[f"t{tier}.{key}"] = s[key]
    return out


def cascade_workload(run, args, raw_path, n_turns, convs) -> tuple[dict, dict]:
    from statistics import median

    from spans import dir_bytes
    from workloads import TIERS

    spark, tr, store = run.spark, run.tr, run.store
    raw = spark.read.parquet(raw_path)
    iters, windows = [], []
    prev = None
    t_meas = time.perf_counter()
    i = 0
    while i < 3 or time.perf_counter() - t_meas < args.seconds:
        out = os.path.join(run.work, "cascade", f"it{i}")
        mark = store.mark() if run.tagging else None
        iters.append(run.cascade_once(raw, out, f"cascade{i}"))
        run.attempted += 1
        if run.tagging:
            windows.append(store.since(mark))
        if prev:
            shutil.rmtree(prev)
        prev, i = out, i + 1
    log(f"cascade iterations {[round(x, 2) for x in iters]}")
    tier_dirs = {t: os.path.join(prev, f"tier_{t}") for t in TIERS}
    e2e = {
        "write_turns_per_s": n_turns / median(iters),
        "tier_bytes_per_turn": sum(dir_bytes(d, ".parquet") for d in tier_dirs.values()) / n_turns,
    }
    tiers = {t: spark.read.parquet(d) for t, d in tier_dirs.items()}
    run.check_turns_conserved(tiers, n_turns)
    run.check_oracle(tiers, convs)
    log("checked")
    if not args.trace:
        return e2e, {}

    import layers

    layer = serve_layers(run, tiers["1h"], convs, False)

    # the last iteration's tier spans must account for its wall time
    tier_s = {
        t: next(
            s["end"] - s["start"] for s in tr.spans
            if s["name"] == f"rollup.t{t}_write" and s["op"] == f"cascade{i - 1}"
        )
        for t in TIERS
    }
    for t in TIERS:
        layer[f"rollup.t{t}_write_s"] = tier_s[t]
    layer["cascade.residual_s"] = iters[-1] - sum(tier_s.values())
    layer.update(tier_layers(windows[-1]))
    log("served")
    layer.update(layers.gapfill_rollup(run, raw, tier_dirs["1m"], tier_dirs["1h"]))
    layer.update(layers.codecs(run.seed, convs))
    log("probed")
    return e2e, layer


def backfill_workload(run, args, raw_path, n_turns, convs) -> tuple[dict, dict]:
    from statistics import median

    from ts_process_spark.plans.backfill import (
        HASH_COLS,
        TableSet,
        backfill,
        count_and_hash,
        verify_lineage,
    )
    from spans import dir_bytes
    from workloads import N_BUCKETS, TIERS

    spark, tr, store = run.spark, run.tr, run.store
    raw = spark.read.parquet(raw_path)
    units = len(TIERS) * N_BUCKETS
    # one backfill into a fresh TableSet is the measured operation: its
    # backfill, resume and verify take longer than --seconds at this size
    tables = TableSet(os.path.join(run.work, "tables"))
    mark = store.mark() if run.tagging else None
    t0 = time.perf_counter()
    with tr.span("plans.backfill", "backfill"):
        first = backfill(spark, raw, tables, n_buckets=N_BUCKETS, parallelism=run.cores)
    backfill_s = time.perf_counter() - t0
    window = store.since(mark) if run.tagging else None
    run.check("backfill", first == {"committed": units, "skipped": 0}, str(first))

    t0 = time.perf_counter()
    with tr.span("plans.backfill", "resume"):
        again = backfill(spark, raw, tables, n_buckets=N_BUCKETS, parallelism=run.cores)
    resume_s = time.perf_counter() - t0
    run.check("resume", again == {"committed": 0, "skipped": units}, str(again))

    t0 = time.perf_counter()
    with tr.span("plans.verify_lineage", "verify"):
        problems = verify_lineage(spark, tables)
    verify_s = time.perf_counter() - t0
    run.check("verify_lineage", problems == [], "; ".join(problems[:3]))
    log(f"backfill {backfill_s:.2f}s resume {resume_s:.2f}s verify {verify_s:.2f}s")

    e2e = {
        "write_turns_per_s": n_turns / backfill_s,
        "tier_bytes_per_turn": sum(dir_bytes(tables.tier_dir(t), ".parquet") for t in TIERS) / n_turns,
    }

    # the union of the buckets (its count and xor hash folded from the
    # lineage records, which verify_lineage has just re-hashed on disk)
    # against the single-job cascade set-up wrote
    cascade_dir = os.path.join(run.work, "warm")
    lineage = tables.read_lineage()
    union = {t: (0, 0) for t in TIERS}
    for r in lineage:
        n, x = union[r["tier"]]
        union[r["tier"]] = (n + r["rows_out"], x ^ r["value_hash"])
    for t in TIERS:
        run.group(f"check:union:{t}")
        want = count_and_hash(spark.read.parquet(os.path.join(cascade_dir, f"tier_{t}")), HASH_COLS)
        run.check(f"bucket union == cascade, tier {t}", union[t] == want, f"{union[t]} != {want}")
    log("checked")
    if not args.trace:
        return e2e, {}

    import layers

    layer = serve_layers(run, tables.read_tier(spark, "1h"), convs, True)
    unit_s = [r["committed_at"] - r["started_at"] for r in lineage if r["run_id"] == lineage[0]["run_id"]]
    layer.update(tier_layers(window))
    layer.update({
        "backfill.spark_jobs": len(window.jobs),
        # raw files opened by the backfill's scans ÷ raw files
        "backfill.scan_amplification": window.reading(raw_path).scans()["files"]
        / len([f for f in os.listdir(raw_path) if f.endswith(".parquet")]),
        "backfill.unit_p50_s": median(unit_s),
        "backfill.unit_max_s": max(unit_s),
        "backfill.resume_s": resume_s,
        "backfill.verify_s": verify_s,
    })
    log("served")
    layer.update(layers.leaves(run))
    log("leaves")
    return e2e, layer


def warm_up(run, workload: str, raw) -> None:
    """Untimed work on the real input, so that codegen, the JIT and the
    Python workers are warm for the measured operation, as on a
    long-lived cluster.  ``cascade`` runs three cascades: the first takes
    about 5x a warm iteration, the next two 1.4x and 1.2x.
    ``backfill_serve`` runs one cascade, whose tiers are the reference for
    the bucket-union check, and one backfill into a throwaway
    ``TableSet``, so that the measured backfill is not the run's first."""
    from ts_process_spark.plans.backfill import TableSet, backfill
    from workloads import N_BUCKETS

    for _ in range(3 if workload == "cascade" else 1):
        run.cascade_once(raw, os.path.join(run.work, "warm"), "warm")
    if workload == "backfill_serve":
        tables = os.path.join(run.work, "warm_tables")
        backfill(run.spark, raw, TableSet(tables), n_buckets=N_BUCKETS, parallelism=run.cores)
        shutil.rmtree(tables)


def run_workload(args, work: str, cores: int, extra_conf: dict, t_start: float):
    from spans import StatusStore, Tracer
    from ts_process_spark.session import get_spark
    from workloads import Run, choose_convs

    seed = args.seed % 2**32
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=extra_conf)
    session_s = time.perf_counter() - t0
    run = Run(spark, work, seed, cores, tracer, StatusStore(spark))
    log(f"session {session_s:.2f}s")

    convs = choose_convs(seed)
    raw_path = os.path.join(work, "raw_input")
    t0 = time.perf_counter()
    n_turns = run.write_raw(raw_path, convs)
    datagen_s = time.perf_counter() - t0
    log(f"datagen {len(convs)} convs {n_turns} turns {datagen_s:.2f}s")
    tracer.enabled, tagging, run.tagging = False, run.tagging, False
    warm_up(run, args.workload, spark.read.parquet(raw_path))
    tracer.enabled, run.tagging = bool(args.trace), tagging
    workload = cascade_workload if args.workload == "cascade" else backfill_workload
    setup_s = time.perf_counter() - t_start
    log(f"setup {setup_s:.2f}s")

    e2e, layer = workload(run, args, raw_path, n_turns, convs)
    if args.trace:
        layer["session.start_s"] = session_s
        layer["datagen.turns_per_s"] = n_turns / datagen_s
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans_{args.workload}_{args.seed}.json"))
        return layer, run.failed == 0, run.attempted, run.failed
    e2e["setup_s"] = setup_s
    return e2e, run.failed == 0, run.attempted, run.failed


def report(values: dict, trace: bool) -> dict:
    """``{name: {"value", "unit"}}`` for every metric BENCHMARK.json lists
    for this kind of run, with its unit from there.  A per-layer metric
    the workload does not exercise (``backfill.*`` on ``cascade``, say)
    is reported as 0."""
    spec = SPEC["per_layer" if trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in spec}
    if unknown:
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    return {
        m["name"]: {
            "value": float(values.get(m["name"], 0) if trace else values[m["name"]]),
            "unit": m["unit"],
        }
        for m in spec
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = configure_env(work, cores)
    sys.path.insert(1, ROOT)

    from spans import RssSampler

    sampler = RssSampler(extra_conf["spark.local.dir"])
    result = None
    try:
        with sampler:
            try:
                result = run_workload(args, work, cores, extra_conf, t_start)
            finally:
                if "pyspark" in sys.modules:
                    stop_spark_and_wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    values, correct, attempted, failed = result
    if args.trace:
        values["rss.peak_shuffle_dir_mb"] = sampler.peak_shuffle / 2**20
    else:
        values["peak_rss_mb"] = sampler.peak_rss / 2**20
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": report(values, bool(args.trace)),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
