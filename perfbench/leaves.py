"""Leaf queries: inputs, the eleven queries, and their canonical output hash.

The inputs are the sf0.1 test tables the leaves read (events, orders,
documents, embeddings), copied unchanged into ``leaf_inputs/`` so that
the benchmark reads them from its own checkout.  They do not depend on
the workload seed, so each leaf's row count and hash can be pinned
(``leaves_pinned.json``).
"""

from __future__ import annotations

import os

INPUTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "leaf_inputs")

# registry names (resolved through __spark_entry__.queries()) and the two
# production entries that are not registry slots
REGISTRY_LEAVES = [
    "rollup_tiers",
    "gapfill_linear",
    "cascade_1m_events",
    "asof_join",
    "doc_minhash_md5_neardup",
    "doc_bm25",
    "doc_tfidf_top5",
    "emb_srp_ann",
    "signal_rotd50_grid63",
]
LEAVES = [
    "rollup_tiers",
    "gapfill_linear",
    "cascade_1m_events",
    "asof_join",
    "doc_minhash_md5_neardup",
    "doc_span_dedup_prod",
    "doc_bm25",
    "doc_tfidf_top5",
    "emb_srp_ann",
    "emb_semdedup_prod",
    "signal_rotd50_grid63",
]


def leaf_factories(spark, sf_dir: str = INPUTS) -> dict:
    """name → zero-argument DataFrame factory, in ``LEAVES`` order.  The
    two production entries take bench_extra.py's arguments."""
    import __spark_entry__ as entry
    from ts_process_spark.operators import dedup, similarity

    registry = entry.queries()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {n: (lambda n=n: registry[n](spark, sf_dir)) for n in REGISTRY_LEAVES}
    out["doc_span_dedup_prod"] = lambda: dedup.duplicated_span_stats(docs)
    out["emb_semdedup_prod"] = lambda: similarity.semantic_dedup_stats(
        embs, n_cells=16, threshold=0.4
    )
    return {n: out[n] for n in LEAVES}


def leaf_digest(df) -> tuple[int, int]:
    """(row count, xor-fold of per-row xxhash64) of a leaf's result,
    computed by Spark over every column in name order with floating
    values rounded to 9 significant digits."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(field):
        c = F.col(f"`{field.name}`")
        t = field.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            return F.format_string("%.9g", c.cast("double"))
        if isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
            return F.transform(c, lambda x: F.format_string("%.9g", x.cast("double")))
        return c

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = (
        df.select(F.xxhash64(*[canon(f) for f in fields]).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("coalesce(bit_xor(h), 0)").alias("x"))
        .first()
    )
    return int(row["n"]), int(row["x"])
