"""Checkpoint-resumable training-data curation (VERDICT r7 #4).

The stage-sequential analog of plans/backfill.py's per-bucket commit
protocol: the resume unit is one pipeline STAGE.  A 100-TB curation run
that dies at stage 7 of 8 must not recompute stages 1-6, so every
stage's survivor table is materialized through the same
write-data-THEN-append-lineage ordering the tier backfill uses
(backfill.py:105-123):

- **Commit protocol**: write the stage's survivor parquet directory (an
  idempotent full overwrite), THEN append the lineage record.  A crash
  between the two leaves data without lineage — the re-run simply
  overwrites that stage.  Lineage is the source of truth, never the
  data files.
- **Fingerprint chain**: each lineage record carries a sha256 chain of
  (input identity, every upstream executed stage name + its parameters,
  and — for decontamination — the benchmark table's count+value_hash,
  since the eval-integrity stage must re-fire when the eval set
  changes).  A committed stage is skipped only when its chained
  fingerprint matches, so changing any upstream flag invalidates every
  downstream stage automatically.  (Input *content* drift at the same
  path is not detected — the same posture as the tier backfill, where
  lineage keys on the unit, not the bytes; pass a new --output root for
  a new corpus snapshot.)
- **Lineage row**: run_id, stage, fingerprint, rows, value_hash
  (order-independent xor-fold, backfill.count_and_hash), started/
  committed wall times.

On a real cluster each stage directory is an Iceberg table and the
lineage append is the snapshot commit; the jar is absent in this
sandbox, so the identical protocol runs over parquet directories.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_process_spark.plans.backfill import append_jsonl, count_and_hash, read_jsonl

# pack is NOT a survivor stage (it emits a different table shape);
# jobs/curate_corpus.py runs it from the final materialized survivors
CURATION_STAGE_ORDER = [
    "exact", "neardup", "quality", "lines", "span", "decontam", "pii",
    "mix",
]


@dataclass
class CurationConfig:
    minhash_threshold: float = 0.8
    max_dup_pct: int = 50
    decontam_n: int = 13
    weights: dict | None = None
    domain_col: str = "domain"
    salt: str = "v1"
    skip: frozenset = field(default_factory=frozenset)

    def stage_params(self, name: str) -> dict:
        return {
            "exact": {},
            "neardup": {"threshold": self.minhash_threshold},
            "quality": {},
            "lines": {},
            "span": {"max_dup_pct": self.max_dup_pct},
            "decontam": {"n": self.decontam_n},
            "pii": {},
            "mix": {"weights": self.weights, "domain_col": self.domain_col,
                    "salt": self.salt},
        }[name]


class StageLedger:
    """Append-only stage lineage over a curation output root."""

    def __init__(self, root: str) -> None:
        self.root = root

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "_stage_lineage.jsonl")

    def stage_dir(self, name: str) -> str:
        return os.path.join(self.root, f"stage_{name}")

    def read_lineage(self) -> list[dict]:
        return read_jsonl(self.lineage_path)

    def committed(self) -> dict[str, dict]:
        """stage -> its LATEST lineage record (a stage recomputed under
        a new fingerprint appends; the newest record wins)."""
        out: dict[str, dict] = {}
        for rec in self.read_lineage():
            out[rec["stage"]] = rec
        return out

    def append(self, rec: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        append_jsonl(self.lineage_path, [rec])


def _fp(prev: str, payload: dict) -> str:
    return hashlib.sha256(
        (prev + json.dumps(payload, sort_keys=True)).encode()
    ).hexdigest()[:16]


def apply_stage(
    spark: SparkSession,
    name: str,
    d: DataFrame,
    cfg: CurationConfig,
    benchmark: DataFrame | None,
) -> DataFrame:
    from ts_process_spark.operators import dedup, sampling, textstats

    if name == "exact":
        keep = dedup.exact_dedup(d, F.col("text")).select(
            F.col("keep_id").alias("doc_id")
        )
        return d.join(keep, "doc_id")
    if name == "neardup":
        pairs = dedup.minhash_dedup_pairs(d, cfg.minhash_threshold)
        keep = dedup.dedup_keep_list(d.select("doc_id"), pairs)
        return d.join(keep.where(F.col("keep")).select("doc_id"), "doc_id")
    if name == "quality":
        flagged = textstats.gopher_quality_flags(
            textstats.with_language_id(d)
        )
        return flagged.where(
            F.col("gopher_pass") & (F.col("lang_pred") == "en")
        ).select(d.columns)
    if name == "lines":
        cols = [c for c in d.columns if c != "text"]
        cleaned = textstats.dedup_lines(d).withColumnRenamed(
            "text", "__clean"
        )
        return d.join(cleaned, "doc_id").select(
            *cols, F.col("__clean").alias("text")
        )
    if name == "span":
        keep = dedup.span_dedup_keep(
            d.select("doc_id", "text"), max_dup_pct=cfg.max_dup_pct
        )
        return d.join(keep.where(F.col("keep")).select("doc_id"), "doc_id")
    if name == "decontam":
        keep = dedup.decontaminate_keep(
            d.select("doc_id", "text"), benchmark, n=cfg.decontam_n
        )
        return d.join(keep.where(F.col("keep")).select("doc_id"), "doc_id")
    if name == "pii":
        cols = [c for c in d.columns if c != "text"]
        return textstats.with_pii_flags(d).select(
            *cols, F.col("redacted").alias("text")
        )
    if name == "mix":
        return sampling.stratified_sample(
            d, cfg.weights, domain_col=cfg.domain_col, salt=cfg.salt
        )
    raise ValueError(f"unknown curation stage {name!r}")


def run_curation(
    spark: SparkSession,
    input_path: str,
    root: str,
    cfg: CurationConfig,
    benchmark_path: str | None = None,
    fail_after: int | None = None,
) -> dict:
    """Run (or resume) the staged curation pipeline under ``root``.

    Returns ``{"committed": [...], "skipped": [...], "counts": {...},
    "final_path": str}``.  ``fail_after=N`` (tests) raises AFTER the
    Nth executed stage's data write but BEFORE its lineage commit —
    the crash window the protocol must survive."""
    ledger = StageLedger(root)
    stages = [s for s in CURATION_STAGE_ORDER if s not in cfg.skip]
    if "mix" in stages and cfg.weights is None:
        raise ValueError("mix stage needs cfg.weights (or skip it)")
    if "decontam" in stages and benchmark_path is None:
        raise ValueError("decontam stage needs benchmark_path (or skip it)")

    base_cols = ["doc_id", "text"] + (
        [cfg.domain_col] if cfg.weights is not None else []
    )
    benchmark = None
    bench_ident: dict = {}
    if "decontam" in stages:
        benchmark = spark.read.parquet(benchmark_path).select(
            "doc_id", "text"
        )
        n, h = count_and_hash(benchmark, ["doc_id", "text"])
        bench_ident = {"benchmark_rows": n, "benchmark_hash": h}

    run_id = uuid.uuid4().hex[:12]
    committed_recs = ledger.committed()
    fp = _fp("", {"input": input_path, "base_cols": base_cols})
    d: DataFrame | None = None  # None ⇒ current survivors live at prev_path
    prev_path = input_path
    result = {"committed": [], "skipped": [], "counts": {},
              "final_path": input_path}
    n_executed = 0
    for name in stages:
        payload = {"stage": name, "params": cfg.stage_params(name)}
        if name == "decontam":
            payload.update(bench_ident)
        fp = _fp(fp, payload)
        rec = committed_recs.get(name)
        out_dir = ledger.stage_dir(name)
        if rec is not None and rec["fingerprint"] == fp:
            # ADVICE r8 (stale-skip window): a run with a CHANGED config
            # that crashes after overwriting this stage's parquet but
            # before its lineage append leaves data that ALIASES the old
            # committed fingerprint.  Re-verify the stage dir against
            # the lineage record before trusting it; on any mismatch
            # (or unreadable dir) fall through and re-execute the stage
            # — deterministic stages reproduce byte-identical output, so
            # downstream committed records stay valid.
            try:
                out = spark.read.parquet(out_dir)
                rows, vhash = count_and_hash(out, sorted(out.columns))
                fresh = rows == rec["rows"] and vhash == rec["value_hash"]
            except Exception:
                fresh = False
            if fresh:
                result["skipped"].append(name)
                result["counts"][name] = rec["rows"]
                d, prev_path = None, out_dir
                result["final_path"] = out_dir
                continue
        if d is None:
            d = spark.read.parquet(prev_path)
            missing = set(base_cols) - set(d.columns)
            if missing:
                raise ValueError(
                    f"input at {prev_path} lacks columns {sorted(missing)}"
                )
            d = d.select(base_cols)
        started = time.time()
        apply_stage(spark, name, d, cfg, benchmark).write.mode(
            "overwrite"
        ).parquet(out_dir)
        n_executed += 1
        if fail_after is not None and n_executed >= fail_after:
            raise RuntimeError(
                f"injected crash after stage {name!r} data write, "
                "before its lineage commit"
            )
        out = spark.read.parquet(out_dir)
        rows, vhash = count_and_hash(out, sorted(out.columns))
        ledger.append(
            {
                "run_id": run_id,
                "stage": name,
                "fingerprint": fp,
                "rows": rows,
                "value_hash": vhash,
                "started_at": started,
                "committed_at": time.time(),
            }
        )
        result["committed"].append(name)
        result["counts"][name] = rows
        d, prev_path = out, out_dir
        result["final_path"] = out_dir
    return result
