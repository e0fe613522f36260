"""Deterministic sampling / domain-mixing operators for training-data
pipelines.

A pretraining data recipe assigns each source domain a weight (e.g.
"2.4 epochs of Wikipedia, 0.3 of CommonCrawl") and needs the sampling
decision to be a PURE FUNCTION of (salt, document id) — never of
partitioning, task retries, or `rand()` — so that a resumed, rescaled,
or re-run job selects byte-identical corpora, and so a DuckDB/any-other
engine can replay the selection exactly.  `rand()`-based
`DataFrame.sample` gives none of that.

Mechanism: ``hash60(salt:id)`` (the engine's md5-based 60-bit integer,
bit-identical in Spark and DuckDB — dedup.hash60) is a uniform draw on
[0, 2^60); a rate expressed in parts-per-million converts to the exact
integer threshold ``rate_ppm · 2^60 // 10^6``, so keep/drop is one
integer compare — no float anywhere, ANSI-safe (2^60 · 10^6 < 2^63
fails — the multiply is ordered as ``rate_ppm << 60 // 10^6`` via
Python int, computed driver-side, so the plan carries only the final
literal).

Scale shape: per-row sampling is a scan-projection filter (no
exchange, no Python); per-domain weights attach via one broadcast join
against the tiny weights dim (or a literal CASE when the dict is
small).  Repeat-factor upsampling is a bounded explode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ts_process_spark.operators.dedup import hash60

PPM = 1_000_000
_HASH_SPACE = 1 << 60


def _threshold(rate_ppm: int) -> int:
    """Exact integer keep-threshold for a ppm rate — computed in Python
    arbitrary-precision ints (rate_ppm · 2^60 would overflow int64 in
    an engine expression) and shipped as a plan literal."""
    if not 0 <= rate_ppm <= PPM:
        raise ValueError(f"rate_ppm must be in [0, {PPM}], got {rate_ppm}")
    return rate_ppm * _HASH_SPACE // PPM


def sample_draw(id_col: Column, salt: str) -> Column:
    """The uniform draw on [0, 2^60): hash60 of ``salt:id``.  Changing
    the salt re-rolls every decision; keeping it pins the sample across
    runs, partitionings and engines."""
    return hash60(F.concat_ws(":", F.lit(salt), id_col.cast("string")))


def sample_by_rate(
    df: DataFrame,
    rate_ppm: int,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic Bernoulli(rate_ppm/10^6) subsample keyed on doc_id:
    keep iff draw < threshold.  One scan projection + filter — no
    exchange, no rand(), restart-safe, exactly replayable in SQL."""
    thr = _threshold(rate_ppm)
    return df.where(sample_draw(F.col("doc_id"), salt) < F.lit(thr))


def stratified_sample(
    df: DataFrame,
    weights_ppm: "dict[str, int]",
    domain_col: str = "domain",
    salt: str = "v1",
) -> DataFrame:
    """Per-domain deterministic sampling — the domain-mixing downsample
    step of a data recipe.  ``weights_ppm`` maps domain value → keep
    rate in ppm; unlisted domains are dropped (the explicit-allowlist
    posture).  The thresholds ride a literal CASE
    expression (weights dicts are recipe-sized, not data-sized), so the
    whole operator stays one scan projection + filter."""
    thr: Column = F.lit(0)
    for dom, ppm in sorted(weights_ppm.items()):
        thr = F.when(
            F.col(domain_col) == dom, F.lit(_threshold(ppm))
        ).otherwise(thr)
    return df.where(sample_draw(F.col("doc_id"), salt) < thr)


def upsample_epochs(
    df: DataFrame,
    factor_ppm: int,
    salt: str = "v1",
) -> DataFrame:
    """Repeat-factor upsampling for domain mixing: a factor of
    2_400_000 ppm (2.4 epochs) emits every row twice plus a third copy
    for the deterministic 40% of ids whose draw lands under the
    fractional threshold.  Adds ``epoch_copy`` (0-based copy index) so
    downstream shuffles/packing see distinct rows; the explode is
    bounded by ceil(factor).  The fractional draw is salted with the
    integer part so chained recipes don't correlate with
    ``sample_by_rate`` decisions at the same salt."""
    if factor_ppm < 0:
        raise ValueError("factor_ppm must be non-negative")
    whole, frac_ppm = divmod(factor_ppm, PPM)
    thr = _threshold(frac_ppm)
    n_copies = F.lit(whole) + (
        sample_draw(F.col("doc_id"), f"{salt}:frac{whole}") < F.lit(thr)
    ).cast("int")
    return (
        df.withColumn("__n", n_copies)
        .where(F.col("__n") > 0)
        .withColumn(
            "epoch_copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1))
        )
        .drop("__n")
    )


def assign_split(df: DataFrame, splits_ppm: "dict[str, int]") -> DataFrame:
    """Deterministic train/val/test ``split`` column: partition the
    hash space into contiguous ranges proportional to ``splits_ppm``
    (which must sum to exactly 10^6 — a silent remainder would be an
    unlabeled shard) and label each row by where its
    ``hash60(split-v1:id)`` draw lands.  Being id-keyed, the assignment
    survives re-runs, repartitioning, engine changes, and INCREMENTAL
    ARRIVALS: a doc ingested next month lands in the same split it
    would have today, so val/test never bleed into train as the corpus
    grows — the property a rand()-based or row-number split cannot
    give.

    One scan projection (a CASE over the draw, thresholds as plan
    literals) — no exchange, no Python.  Assignment order is the
    sorted split names, so the mapping is a pure function of
    splits_ppm, not dict insertion order."""
    total = sum(splits_ppm.values())
    if total != PPM:
        raise ValueError(
            f"splits_ppm must sum to exactly {PPM}, got {total} — a "
            "remainder would leave rows in no split"
        )
    if any(v <= 0 for v in splits_ppm.values()):
        raise ValueError("every split needs a positive ppm share")
    draw = sample_draw(F.col("doc_id"), "split-v1")
    expr: Column | None = None
    acc = 0
    for name, ppm in sorted(splits_ppm.items()):
        acc += ppm
        cond = draw < F.lit(_threshold(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # acc == PPM ⇒ the last threshold is 2^60, an all-covering bound;
    # the otherwise() is unreachable but keeps the column non-null
    # under any future arithmetic drift
    last = sorted(splits_ppm)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))
