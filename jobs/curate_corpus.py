"""spark-submit entry point for the end-to-end training-data curation
pipeline — the operator composition pinned by
tests/test_training_ops.py::test_curation_pipeline_end_to_end, shipped
as a runnable job.

    cd <repo> && zip -qr ts_process_spark.zip ts_process_spark
    spark-submit --master <cluster|local[N]> \\
        --py-files ts_process_spark.zip \\
        jobs/curate_corpus.py \\
        --input  <documents parquet dir> \\
        --output <curated output root> \\
        [--benchmark <eval-set parquet dir>] \\
        [--weights '{"web": 800000, "wiki": 950000}' --domain-col domain] \\
        [--minhash-threshold 0.8] [--max-dup-pct 50] \\
        [--decontam-n 13] [--budget-tokens 2048] [--n-shards 64] \\
        [--salt v1] [--skip exact,neardup,...]

Stages, in order (each skippable via --skip):

  exact     exact dedup (md5 of text, min-id survives)
  neardup   MinHash+LSH near-dup keep-list (connected components)
  quality   Gopher rules + language-ID == en
  lines     within-doc duplicate-line removal (rewrites text)
  span      span-level substring dedup budget (<= max-dup-pct chars)
  decontam  benchmark n-gram decontamination (needs --benchmark) —
            runs BEFORE the PII scrub so both sides of the n-gram
            match see identically-normalized text (a leaked eval
            passage containing an email must not escape because its
            tokens were already rewritten to <EMAIL>)
  pii       PII scrub — survivors carry the REDACTED text forward
  mix       deterministic domain-weighted downsample (needs --weights)
  pack      greedy shard-local sequence packing

Outputs under --output: ``curated/`` (doc_id, text survivors),
``packed/`` (doc_id, shard, bin_id, n_tokens) when packing runs, and a
one-line JSON ``report.json`` with per-stage survivor counts.

Determinism: every stage is a pure function of the input bytes and the
flags (hash-keyed sampling, min-id keep policies, no rand()), so
re-running the identical command reproduces the identical corpus —
the property that makes a 100-TB curation run auditable.

Resume (VERDICT r7 #4): by default every stage's survivor table is
materialized under --output through the same write-data-THEN-commit-
lineage protocol as jobs/cascade_backfill.py (plans/curation.py) — a
run that dies at stage 7 of 8 re-runs with the identical command and
skips the committed stages 1-6 (fingerprint-chained: changing any
upstream flag, or the benchmark's content, recomputes everything
downstream).  The per-stage materialization doubles as the audit tax:
survivor counts + value hashes land in _stage_lineage.jsonl.  Pass
--no-counts to run the whole pipeline as ONE lazy plan instead (no
materialization, no resume — the cheap mode for small corpora).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmark", default=None)
    ap.add_argument("--weights", default=None,
                    help="JSON dict domain -> keep rate in ppm")
    ap.add_argument("--domain-col", default="domain")
    ap.add_argument("--minhash-threshold", type=float, default=0.8)
    ap.add_argument("--max-dup-pct", type=int, default=50)
    ap.add_argument("--decontam-n", type=int, default=13)
    ap.add_argument("--budget-tokens", type=int, default=2048)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--salt", default="v1")
    ap.add_argument("--skip", default="",
                    help="comma-separated stage names to skip")
    ap.add_argument("--no-counts", action="store_true")
    args = ap.parse_args()
    stages = {"exact", "neardup", "quality", "lines", "span", "decontam",
              "pii", "mix", "pack"}
    skip = {s.strip() for s in args.skip.split(",") if s.strip()}
    unknown = skip - stages
    if unknown:
        ap.error(f"--skip names unknown stages {sorted(unknown)}; "
                 f"valid: {sorted(stages)}")
    if "decontam" not in skip and not args.benchmark:
        ap.error("decontamination needs --benchmark (or list decontam "
                 "in --skip to run without it — a silent no-op would "
                 "let an uncontaminated-looking corpus ship unchecked)")
    if "mix" not in skip and not args.weights:
        ap.error("domain mixing needs --weights (or list mix in --skip)")
    # parse + validate --weights HERE, not inside the mix stage: by the
    # time mix runs, exact/neardup/quality/lines/span/decontam/pii have
    # each executed a counted Spark action — a malformed JSON string or
    # a fractional rate must abort before hours of work, not after
    # (ADVICE r7)
    weights = None
    if args.weights is not None:
        try:
            weights = json.loads(args.weights)
        except json.JSONDecodeError as e:
            ap.error(f"--weights is not valid JSON: {e}")
        if not isinstance(weights, dict):
            ap.error("--weights must be a JSON object domain -> ppm")
        bad = {k: v for k, v in weights.items()
               if not isinstance(v, int) or isinstance(v, bool)}
        if bad:
            ap.error(
                f"--weights values must be integer ppm (0..1000000), got "
                f"{bad} — a fraction like 0.8 would silently truncate to "
                "rate 0 and drop the whole domain"
            )

    from pyspark.sql import SparkSession

    from ts_process_spark.session import pin_runtime

    spark = SparkSession.builder.appName("ts-curate-corpus").getOrCreate()
    pin_runtime(spark)

    from ts_process_spark.operators import textstats
    from ts_process_spark.plans.curation import (
        CURATION_STAGE_ORDER,
        CurationConfig,
        apply_stage,
        run_curation,
    )

    t0 = time.time()
    report: dict = {"stages": {}}
    cfg = CurationConfig(
        minhash_threshold=args.minhash_threshold,
        max_dup_pct=args.max_dup_pct,
        decontam_n=args.decontam_n,
        weights=weights,
        domain_col=args.domain_col,
        salt=args.salt,
        skip=frozenset(skip),
    )
    base_cols = ["doc_id", "text"] + (
        [args.domain_col] if weights is not None else []
    )

    if args.no_counts:
        # legacy ONE-lazy-plan mode: no per-stage materialization, no
        # counts, no resume — the cheap path for a small corpus
        d = spark.read.parquet(args.input).select(base_cols)
        bench = (
            spark.read.parquet(args.benchmark).select("doc_id", "text")
            if "decontam" not in skip
            else None
        )
        for name in CURATION_STAGE_ORDER:
            if name not in skip:
                d = apply_stage(spark, name, d, cfg, bench)
        d.write.mode("overwrite").parquet(f"{args.output}/curated")
    else:
        # resumable staged run (plans/curation.py): each stage's
        # survivors are materialized and lineage-committed; a re-run
        # with the identical command skips committed stages
        res = run_curation(
            spark, args.input, args.output, cfg,
            benchmark_path=args.benchmark,
        )
        report["stages"].update(res["counts"])
        report["resume_skipped"] = res["skipped"]
        final = (
            spark.read.parquet(args.input).select(base_cols)
            if res["final_path"] == args.input  # every stage skipped
            else spark.read.parquet(res["final_path"])
        )
        final.write.mode("overwrite").parquet(f"{args.output}/curated")
    curated = spark.read.parquet(f"{args.output}/curated")
    report["stages"]["final"] = curated.count()

    if "pack" not in skip:
        # pack from the materialized read-back — reusing the lazy `d`
        # would re-execute the whole curation lineage a second time
        # (review r7); determinism makes the two sources identical
        packed = textstats.pack_documents(
            curated.select("doc_id", "text"),
            budget_tokens=args.budget_tokens,
            n_shards=args.n_shards,
        )
        packed.write.mode("overwrite").parquet(f"{args.output}/packed")
        report["packed_rows"] = spark.read.parquet(
            f"{args.output}/packed"
        ).count()

    report["wall_sec"] = round(time.time() - t0, 2)
    # the stdout REPORT line is the canonical output; the sidecar file
    # is written only for local/file: outputs (a driver-side open() on
    # an hdfs:// or s3:// URI would fail AFTER all the work succeeded)
    path = args.output
    if path.startswith("file:"):
        path = path[len("file:"):]
    if "://" not in path:
        with open(f"{path}/report.json", "w") as f:
            f.write(json.dumps(report) + "\n")
    print("REPORT " + json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
