"""Tests for the training-data pipeline operators (dedup, similarity,
text stats, multimodal plumbing) on small deterministic data."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_process_spark.operators import dedup, multimodal, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog", "en"),  # near dup
    (3, "completely different content about spark engines", "en"),
    (4, "der schnelle braune fuchs springt und ist ein tier", "de"),
    (5, "le renard brun rapide est dans la foret pour un moment", "fr"),
    (6, "spark engines about content different completely", "en"),  # perm of 3
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "text", "lang"])
    ).cache()


def test_exact_dedup(docs):
    groups = dedup.exact_dedup(docs, F.col("text")).where(F.col("n_docs") > 1)
    rows = groups.collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2 and rows[0]["keep_id"] == 0


def test_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.wordset_jaccard_pairs(docs, 0.7, allow_unblocked=True).collect()
    }
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs and (1, 2) in pairs  # one-word swap
    assert (3, 6) in pairs  # same word set, different order
    assert not any(a == 4 or b == 4 for a, b in pairs)


def test_minhash_subset_of_exact(docs):
    """LSH+verify pairs must be a subset of the exact-Jaccard pairs at
    the same threshold (verification uses the same measure)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.wordset_jaccard_pairs(docs, 0.9, allow_unblocked=True).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.9).collect()
    }
    assert mh <= exact
    assert (0, 1) in mh  # identical docs always survive LSH


def test_simhash(docs):
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert sigs[0] == sigs[1]  # identical text, identical signature
    assert sigs[3] == sigs[6]  # bag-of-words model: permutation-invariant
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=12).collect()
    }
    assert pairs[(0, 1)] == 0


def test_fingerprint_order_sensitive(docs):
    fps = {
        r["doc_id"]: r["fingerprint"]
        for r in textstats.with_fingerprint(docs).collect()
    }
    assert fps[0] == fps[1]
    assert fps[3] != fps[6]  # rolling hash sees order, unlike simhash


def test_langid(docs):
    preds = {
        r["doc_id"]: r["lang_pred"]
        for r in textstats.with_language_id(docs).collect()
    }
    assert preds[0] == "en" and preds[4] == "de" and preds[5] == "fr"


def test_token_stats(docs):
    r = (
        textstats.with_token_stats(docs)
        .where(F.col("doc_id") == 0)
        .first()
    )
    assert r["n_tokens"] == 9
    assert r["n_unique_tokens"] == 8  # 'the' twice


def test_srp_ann_recall(spark):
    """SRP-bucketed ANN finds a reasonable fraction of true top-3
    neighbors on the embeddings fixture."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(embs, k=3, n_queries=20).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.srp_ann_topk(embs, k=3, n_planes=4).collect()
        if r["query_id"] < 20
    }
    # 4 planes → 16 buckets; recall needn't be high, but must be nonzero
    # and every approx pair must share a bucket by construction
    assert len(approx & exact) > 0
    bucket = similarity.srp_bucket(
        similarity.quantized(F.col("embedding")),
        similarity.rademacher_hyperplanes(4, 64),
    )
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in embs.select("vec_id", bucket.alias("bucket")).collect()
    }
    for q, n in approx:
        assert buckets[q] == buckets[n]


def test_multimodal_plumbing(spark, docs):
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == len(DOCS)
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["n_bytes"] == len(DOCS[0][1].encode())
    assert abs(sum(by_id[0]["feature"]) - 1.0) < 1e-9
    assert by_id[0]["byte_entropy"] > 0
    # identical payloads → identical features (deterministic stub)
    assert by_id[0]["feature"] == by_id[1]["feature"]
    # a truncated JPEG fails loudly; an unknown format hits the honest
    # NotImplementedError boundary
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFFxxxxWEBP" + b"\x00" * 8)


def test_ivf_ann_recall_vs_brute_force(spark):
    """IVF with nprobe=2/16 cells must recover a solid fraction of the
    true top-3 and never report a better cosine than brute force."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(embs, k=3, n_queries=10).collect()
    }
    ivf_rows = similarity.ivf_ann_topk(
        embs, k=3, n_cells=16, nprobe=2, n_queries=10
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall  # approximate, but far from random
    # candidate restriction can only lower the best cosine, never raise it
    best_exact = {}
    for r in similarity.cosine_topk(embs, k=1, n_queries=10).collect():
        best_exact[r.query_id] = r.cosine
    for r in ivf_rows:
        if r.rank == 1:
            assert r.cosine <= best_exact[r.query_id] + 1e-9


def test_connected_components_chain_and_singleton(spark):
    """Chain a-b, b-c collapses to one component (transitivity); a
    disjoint pair forms its own; keep = min id per component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    comps = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 10, 11)], "doc_id int")
    keep = {r.doc_id: (r.component, r.keep)
            for r in dedup.dedup_keep_list(docs, pairs).collect()}
    assert keep == {1: (1, True), 2: (1, False), 3: (1, False),
                    7: (7, True), 10: (10, True), 11: (10, False)}


def test_hash60_matches_duckdb(spark):
    """The cornerstone of every md5-mode oracle: Spark's
    conv(substr(md5(x),1,15),16,10) must equal DuckDB's
    ('0x'||substr(md5(x),1,15))::BIGINT for arbitrary strings."""
    import duckdb

    rng = __import__("numpy").random.default_rng(3)
    strs = [
        "".join(chr(c) for c in rng.integers(32, 127, size=rng.integers(0, 40)))
        for _ in range(200)
    ] + ["", " ", "émoji ✓ ünïcode", "\t\n", "0x" * 30]
    sdf = spark.createDataFrame([(s,) for s in strs], "s string")
    got = {
        r["s"]: r["h"]
        for r in sdf.select("s", dedup.hash60(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for s in strs:
        want = con.execute(
            "SELECT ('0x' || substr(md5(?),1,15))::BIGINT", [s]
        ).fetchone()[0]
        assert got[s] == want, s


def test_simhash_blocking_recall(docs, spark):
    """The blocked path must find EVERY pair within the advertised
    radius (pigeonhole: max_hamming+1 chunks), not just pairs whose
    differing bits cluster into few chunks.

    (a) real fixture: blocked == unblocked all-pairs at radius 3;
    (b) adversarial fixture: signatures engineered so the differing
        bits SPREAD across all 4 of the old fixed chunks — the r1
        layout (4 chunks, radius 10) silently dropped these; the
        derived layout (11 chunks for radius 10) must not."""
    for h in (3, 6):
        blocked = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_pairs(docs, max_hamming=h).collect()
        }
        exact = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_pairs_exact(docs, max_hamming=h).collect()
        }
        assert blocked == exact, (h, exact - blocked)

    # adversarial: 64-bit sigs differing in bits {0, 16, 32, 48} — one
    # bit in each 16-bit chunk, Hamming distance 4
    layout = dedup.simhash_chunk_layout(64, 4)
    assert len(layout) == 5 and sum(w for _, w in layout) == 64
    base = 0x0123456789ABCDEF
    spread = base ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))
    sigs = spark.createDataFrame(
        [(0, base), (1, spread)], "id long, simhash long"
    )
    # drive the blocking stage directly on the engineered signatures
    from pyspark.sql import functions as F2

    chunks = sigs.select(
        F2.struct("id", "simhash").alias("id"),
        F2.explode(
            F2.array(
                *[
                    F2.struct(
                        F2.lit(c).alias("chunk"),
                        F2.shiftrightunsigned(F2.col("simhash"), start)
                        .bitwiseAND(F2.lit((1 << width) - 1))
                        .alias("cv"),
                    )
                    for c, (start, width) in enumerate(layout)
                ]
            )
        ).alias("cc"),
    ).select("id", F2.col("cc.chunk").alias("chunk"), F2.col("cc.cv").alias("cv"))
    cand = dedup._bucket_pairs(chunks, ["chunk", "cv"]).collect()
    assert len(cand) == 1  # the spread-bits pair IS a candidate


def test_connected_components_long_chain(spark):
    """A 50-node path graph (diameter 49) must converge well inside
    max_iter — pointer doubling gives O(log d) rounds — and label every
    node with the chain minimum.  Also guards the lineage fix: without
    per-round localCheckpoint this test's plan depth explodes."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a int, id_b int"
    )
    comps = dedup.connected_components(pairs, max_iter=10).collect()
    assert len(comps) == 50
    assert all(r.component == 0 for r in comps)


def test_emb_neardup_blocked_recall(spark):
    """The default (SRP-blocked) embedding near-dup must (a) be a subset
    of the exact form, (b) achieve recall 1.0 on TRUE near-dups (noise
    clones, cosine ≈ 0.999 → per-table collision prob ≈ 0.97), and
    (c) log its recall at the loose fixture threshold."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=64).astype("float32")
        rows.append((2 * i, (v / np.linalg.norm(v)).tolist()))
        w = v + rng.normal(scale=0.01, size=64).astype("float32")
        rows.append((2 * i + 1, (w / np.linalg.norm(w)).tolist()))
    embs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(
            embs, 0.99, exact=True
        ).collect()
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(embs, 0.99).collect()
    }
    clone_pairs = {(2 * i, 2 * i + 1) for i in range(40)}
    assert clone_pairs <= exact
    assert blocked <= exact
    assert clone_pairs <= blocked, clone_pairs - blocked  # recall 1.0 on clones

    # loose-threshold recall metric on the driver fixture (logged, bounded)
    fx = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ex = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(fx, 0.35, exact=True).collect()
    }
    bl = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(fx, 0.35).collect()
    }
    recall = len(bl & ex) / len(ex) if ex else 1.0
    print(f"emb_neardup blocked recall @0.35 (fixture, non-near pairs): {recall:.3f}")
    assert bl <= ex


def test_bmp_wav_roundtrip():
    """The pure-NumPy codecs: encode→decode is exact, including odd
    widths (4-byte row padding) and the RIFF chunk walk."""
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w in ((7, 5), (16, 16), (3, 1)):
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = multimodal.decode_bmp(multimodal.encode_bmp(img))
        assert np.array_equal(got, img), (h, w)
    pcm = rng.integers(-32768, 32767, size=701, dtype=np.int16)
    rate, got = multimodal.decode_wav(multimodal.encode_wav(pcm, 8000))
    assert rate == 8000 and np.array_equal(got, pcm)
    import pytest as _pt
    with _pt.raises(ValueError):  # truncated header fails cleanly
        multimodal.decode_bmp(multimodal.encode_bmp(pcm.reshape(-1, 1))[:30])


def test_cosine_ops_exclude_zero_norm_vectors(spark):
    """A zero (or zero-quantizing) embedding has no direction: every
    cosine-scored op must EXCLUDE it on both the query and corpus side
    instead of dying on ANSI DIVIDE_BY_ZERO (one poisoned row must never
    kill a corpus job — found by the adversarial embeddings fixture)."""
    import numpy as np

    rng = np.random.default_rng(2)
    rows = [(0, [0.0] * 64, 0), (1, [float(1e-30)] * 64, 0)]
    for i in range(2, 12):
        rows.append((i, [float(x) for x in rng.normal(size=64)], i % 3))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    knn = similarity.cosine_topk(embs, k=3, n_queries=5).collect()
    ids = {r.query_id for r in knn} | {r.neighbor_id for r in knn}
    assert 0 not in ids and 1 not in ids  # excluded, not crashed
    assert len(knn) > 0

    pairs = similarity.embedding_neardup_pairs(embs, 0.2).collect()
    pids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert 0 not in pids and 1 not in pids


def test_decoded_stats_and_media_from_series(spark):
    """media_from_series encodes deterministic integer series through
    the real codecs and decoded_stats recovers the EXACT integer
    functionals (the multimodal_decoded_stats gate path), with poisoned
    payloads costing one decoded_ok=false row."""
    import numpy as np
    import pandas as pd

    rows = []
    # image series: 10 pixels (pads to 8x8 with zeros)
    for i, v in enumerate([5, 250, 0, 13, 77, 200, 1, 99, 255, 42]):
        rows.append((2, "image", i, v))
    # audio series: 6 samples
    for i, v in enumerate([0, 32767, 100, 7, 9000, 12345]):
        rows.append((3, "audio", i, v))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "kind", "i", "s"])
    )
    media = multimodal.media_from_series(df, width=8, height=8)
    got = {r.media_id: r for r in multimodal.decoded_stats(media).collect()}
    img_vals = [5, 250, 0, 13, 77, 200, 1, 99, 255, 42] + [0] * 54
    assert got[2].decoded_ok
    assert got[2].n_vals == 192 and got[2].v_sum == 3 * sum(img_vals)
    assert got[2].v_sumsq == 3 * sum(v * v for v in img_vals)
    assert got[2].v_min == 0 and got[2].v_max == 255
    assert got[2].d_mean == float(3 * sum(img_vals)) / 192
    aud = [0, 32767, 100, 7, 9000, 12345]
    assert got[3].decoded_ok
    assert got[3].n_vals == 6 and got[3].v_sum == sum(aud)
    assert got[3].v_sumsq == sum(v * v for v in aud)
    assert (got[3].v_min, got[3].v_max) == (0, 32767)
    # poisoned payload -> one false row, not a task failure
    bad = spark.createDataFrame(
        [(9, "image", bytearray(b"\x89PNG junk"), (None, None, None, 0))],
        multimodal.MEDIA_SCHEMA,
    )
    b = multimodal.decoded_stats(bad).collect()[0]
    assert not b.decoded_ok and b.d_mean is None


def test_bucket_pairs_two_level_split(spark):
    """Over-cap buckets with a salt column are SPLIT on the secondary
    signature, not dropped: pairs sharing the salt survive, sub-buckets
    still over the cap drop, and under-cap buckets are untouched
    (round-3 VERDICT ask #5)."""
    rows = []
    # hot bucket: 30 ids, salts 0/1/2 in round-robin -> 3 sub-buckets of 10
    rows += [(i, 0, 7, i % 3) for i in range(30)]
    # a second hot bucket whose sub-bucket is ALSO over cap (salt all 9)
    rows += [(100 + i, 0, 8, 9) for i in range(25)]
    # normal bucket under the cap: all pairs kept regardless of salt
    rows += [(200 + i, 1, 5, i) for i in range(4)]
    keyed = spark.createDataFrame(
        rows, "id long, band int, bh long, bh2 long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in dedup._bucket_pairs(
            keyed, ["band", "bh"], max_bucket=20, salt_col="bh2"
        ).collect()
    }
    # split bucket: pairs within same salt class only
    want_split = {
        (a, b)
        for a in range(30)
        for b in range(30)
        if a < b and a % 3 == b % 3
    }
    # second bucket: its single sub-bucket (25 > 20) drops entirely
    want_small = {(200 + a, 200 + b) for a in range(4) for b in range(4) if a < b}
    assert got == want_split | want_small
    # without a salt column both hot buckets drop wholesale (old policy)
    got_drop = {
        (r.id_a, r.id_b)
        for r in dedup._bucket_pairs(keyed, ["band", "bh"], max_bucket=20).collect()
    }
    assert got_drop == want_small


def test_bucket_pair_expansion_streams(spark):
    """VERDICT r5 #3: the within-bucket pair expansion must never build
    the full n(n-1)/2 pair array inside one row.  (a) Plan contract:
    the expansion is two chained generators (posexplode anchors, then
    explode of each anchor's tail slice) with NO flatten-of-transforms
    node — the per-row transient is O(bucket size), not O(bucket²).
    (b) Semantics: pair sets identical to itertools.combinations on a
    bucket at the cap boundary, and the existing fixtures' pair sets
    (test_bucket_pairs_two_level_split above) are unchanged."""
    from itertools import combinations

    n = 2000  # one hot bucket exactly at the cap
    keyed = spark.createDataFrame(
        [(i, 0) for i in range(n)], "id long, band int"
    ).repartition(8)
    pairs = dedup._bucket_pairs(keyed, ["band"], max_bucket=n)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "flatten" not in plan.lower(), plan
    assert plan.count("Generate") == 2, plan
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == set(combinations(range(n), 2))
    # one over the cap -> dropped entirely (policy unchanged)
    keyed2 = spark.createDataFrame(
        [(i, 0) for i in range(n + 1)], "id long, band int"
    )
    assert dedup._bucket_pairs(keyed2, ["band"], max_bucket=n).count() == 0


def test_bm25_matches_duckdb_oracle(spark):
    """bm25_scores against a DuckDB replica of the same formula on the
    shared documents parquet — rtol 1e-12 (log/divide are libm ops, so
    this is a pytest oracle, not a hash gate).  Plan contract: no
    explode, no exchange of corpus rows (one broadcast of the 1-row
    stats aggregate)."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    terms = ["the", "data", "zyzzyx"]  # common, mid, absent
    got = {
        r["id"]: r
        for r in textstats.bm25_scores(docs, terms).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    words = (
        "list_filter(string_split_regex(trim(coalesce(text, '')),"
        " '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '')"
    )
    tf_cols = ", ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5)) * "
        f"(b.tf_{i} * 2.2 / (b.tf_{i} + 1.2 * (0.25 + 0.75 * b.doc_len / s.avgdl)))"
        for i in range(len(terms))
    )
    want = con.execute(f"""
        WITH w0 AS (
            SELECT doc_id AS id, {words} AS w FROM documents
        ), b AS (
            SELECT id, len(w) AS doc_len, {tf_cols} FROM w0
        ), s AS (
            SELECT count(*) AS n, sum(doc_len) * 1.0 / count(*) AS avgdl,
                   {df_cols}
            FROM b
        )
        SELECT b.id, b.doc_len, {score} AS bm25 FROM b, s
    """).df()
    assert len(want) == len(got)
    for _, r in want.iterrows():
        g = got[r["id"]]
        assert g.doc_len == r["doc_len"]
        assert abs(g.bm25 - r["bm25"]) <= 1e-12 * max(1.0, abs(r["bm25"]))
    # absent term contributes 0 to every doc
    assert all(g["tf_2"] == 0 for g in got.values())
    # plan: no explode, corpus rows never shuffle
    plan = textstats.bm25_scores(docs, terms)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Generate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_tfidf_top_terms_matches_duckdb_oracle(spark):
    """tfidf_top_terms vs a DuckDB window replica: same top-k terms in
    the same (-score, term) order, scores at rtol 1e-12."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        r["id"]: (list(r["terms"]), list(r["scores"]))
        for r in textstats.tfidf_top_terms(docs, top_k=3).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    words = (
        "list_filter(string_split_regex(trim(coalesce(text, '')),"
        " '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '')"
    )
    want = con.execute(f"""
        WITH ex AS (
            SELECT doc_id AS id, unnest({words}) AS w FROM documents
        ), tf AS (
            SELECT id, w, count(*) AS tf FROM ex GROUP BY 1, 2
        ), d AS (
            SELECT w, count(*) AS df FROM tf GROUP BY 1
        ), n AS (SELECT count(*) AS n FROM documents),
        s AS (
            SELECT tf.id, tf.w, tf.tf * ln(n.n * 1.0 / d.df) AS s
            FROM tf JOIN d USING (w), n
        ), r AS (
            SELECT id, w, s, row_number() OVER (
                PARTITION BY id ORDER BY s DESC, w ASC) AS rk
            FROM s
        )
        SELECT id, list(w ORDER BY rk) AS terms, list(s ORDER BY rk) AS scores
        FROM r WHERE rk <= 3 GROUP BY id
    """).df()
    assert len(want) == len(got)
    for _, r in want.iterrows():
        terms, scores = got[r["id"]]
        assert terms == list(r["terms"]), (r["id"], terms, r["terms"])
        for a, b in zip(scores, r["scores"]):
            assert abs(a - b) <= 1e-12 * max(1.0, abs(b))


def test_pq_ann_codes_and_recall(spark):
    """Product quantization: (a) a codeword vector encodes to itself in
    every subspace and its self-ADC distance is 0; (b) ADC top-k recall
    vs exact quantized-L2 top-k beats random on the shared embeddings;
    (c) deterministic across runs."""
    from pyspark.sql import Window as W2
    from pyspark.sql import functions as F2

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    enc = similarity.pq_encode(emb, m=8, n_codes=16)
    rows = {r["id"]: list(r["codes"]) for r in enc.collect()}
    low16 = sorted(rows)[:16]
    for c, vid in enumerate(low16):
        assert rows[vid] == [c] * 8, (vid, rows[vid])  # codeword -> itself
    got = similarity.pq_ann_topk(emb, k=5, m=8, n_codes=16, n_queries=8)
    g1 = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    g2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.pq_ann_topk(
            emb, k=5, m=8, n_codes=16, n_queries=8
        ).collect()
    }
    assert g1 == g2  # deterministic
    # exact quantized-L2 top-k ground truth
    base = similarity.cosine_base(emb)
    q = base.orderBy("id").limit(8).select(
        F2.col("id").alias("query_id"), F2.col("q").alias("qq")
    )
    d2 = F2.aggregate(
        F2.zip_with("qq", "q", lambda x, y: (x - y) * (x - y)),
        F2.lit(0).cast("long"), lambda s, v: s + v,
    )
    ex = (
        base.join(F2.broadcast(q), F2.col("id") != F2.col("query_id"))
        .select("query_id", F2.col("id").alias("neighbor_id"), d2.alias("d2"))
        .withColumn(
            "rank",
            F2.row_number().over(
                W2.partitionBy("query_id").orderBy(
                    F2.col("d2").asc(), F2.col("neighbor_id")
                )
            ),
        )
        .where(F2.col("rank") <= 5)
    )
    truth: dict[int, set] = {}
    for r in ex.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for (qid, _rk), nid in g1.items():
        total += 1
        hits += nid in truth[qid]
    recall = hits / total
    n_vecs = emb.count()
    random_expect = 5 / (n_vecs - 1)
    assert recall > 10 * random_expect, (recall, random_expect)
    assert recall >= 0.2, recall  # crude 16-codeword book, floor only


def test_ivfpq_ann_composition(spark):
    """IVF×PQ: candidates come only from probed cells, distances come
    only from code lookups, results deterministic, and recall against
    exact quantized-L2 top-k beats random by a wide margin."""
    from pyspark.sql import Window as W3
    from pyspark.sql import functions as F3

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = similarity.ivfpq_ann_topk(emb, k=5, nprobe=6, n_queries=8)
    rows = got.collect()
    g1 = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rows}
    g2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivfpq_ann_topk(
            emb, k=5, nprobe=6, n_queries=8
        ).collect()
    }
    assert g1 == g2  # deterministic
    # neighbors must lie in the query's probed cells
    assigned = {
        r["id"]: r["cell_id"]
        for r in similarity.ivf_cell_assignments(emb, 16).collect()
    }
    # exact ground truth for recall
    base = similarity.cosine_base(emb)
    q = base.orderBy("id").limit(8).select(
        F3.col("id").alias("query_id"), F3.col("q").alias("qq")
    )
    d2 = F3.aggregate(
        F3.zip_with("qq", "q", lambda x, y: (x - y) * (x - y)),
        F3.lit(0).cast("long"), lambda s, v: s + v,
    )
    ex = (
        base.join(F3.broadcast(q), F3.col("id") != F3.col("query_id"))
        .select("query_id", F3.col("id").alias("neighbor_id"), d2.alias("d2"))
        .withColumn(
            "rank",
            F3.row_number().over(
                W3.partitionBy("query_id").orderBy(
                    F3.col("d2").asc(), F3.col("neighbor_id")
                )
            ),
        )
        .where(F3.col("rank") <= 5)
    )
    truth: dict[int, set] = {}
    for r in ex.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for (qid, _), nid in g1.items():
        total += 1
        hits += nid in truth[qid]
    n_vecs = emb.count()
    assert total > 0
    recall = hits / total
    assert recall > 10 * (5 / (n_vecs - 1)), recall
    # structural containment: every returned neighbor must live in one
    # of ITS query's probed cells
    # recompute the probe rule: nprobe best cells by rounded quantized
    # cosine (desc, cell_id tie) — same expression as the operator
    cell_rows = similarity.cosine_base(emb)
    cells = cell_rows.orderBy("id").limit(16).select(
        F3.col("id").alias("cell_id"), F3.col("q").alias("cv"),
        F3.col("nq").alias("ncv"),
    )
    qc = (
        q.join(F3.broadcast(cells))
        .select(
            "query_id", "cell_id",
            F3.round(
                similarity.cosine_qn(
                    F3.col("qq"), F3.col("cv"),
                    similarity.dot_long(F3.col("qq"), F3.col("qq")),
                    F3.col("ncv"),
                ), 6,
            ).alias("qc"),
        )
        .withColumn(
            "rn",
            F3.row_number().over(
                W3.partitionBy("query_id").orderBy(
                    F3.col("qc").desc(), F3.col("cell_id")
                )
            ),
        )
        .where(F3.col("rn") <= 6)
    )
    probed = {}
    for r in qc.collect():
        probed.setdefault(r["query_id"], set()).add(r["cell_id"])
    for (qid, _rk), nid in g1.items():
        assert assigned[nid] in probed[qid], (qid, nid, assigned[nid])


def test_embedding_dedup_keep_list_composition(spark):
    """The full embedding-dedup pipeline composes from existing ops:
    SRP-blocked near-dup pairs → connected components → keep list —
    same machinery as the document keep-list, over vectors.  Every
    vector gets exactly one row, every component keeps exactly its
    min id, and pair endpoints always share a component."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.35).select(
        "id_a", "id_b"
    )
    keep = dedup.dedup_keep_list(emb, pairs, id_col="vec_id")
    rows = keep.collect()
    assert len(rows) == emb.count()  # one row per vector
    comp = {r["vec_id"]: r["component"] for r in rows}
    kept = {r["vec_id"] for r in rows if r["keep"]}
    by_comp: dict[int, list[int]] = {}
    for vid, c in comp.items():
        by_comp.setdefault(c, []).append(vid)
    for c, ids in by_comp.items():
        assert sum(1 for i in ids if i in kept) == 1
        assert min(ids) in kept  # keep = smallest id
    for r in pairs.collect():
        assert comp[r["id_a"]] == comp[r["id_b"]]


def test_pq_encode_arrow_matches_hof_path(spark):
    """The Arrow-batch PQ encoder (production throughput path) emits
    BIT-IDENTICAL codes to the interpreted-HOF pq_encode, including
    HALF_UP quantization parity with F.round."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cb = similarity.pq_train(emb, n_codes=16)
    assert cb.shape == (16, 64) and cb.dtype == np.int64
    arrow = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode_arrow(emb, cb, m=8).collect()
    }
    hof = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, m=8, n_codes=16).collect()
    }
    assert arrow == hof
    # hostile fixture: zero-norm vectors must be excluded by BOTH paths
    # (the arrow path once encoded them — review finding)
    adv = spark.read.parquet("/root/testdata_adv/embeddings.parquet")
    cba = similarity.pq_train(adv, n_codes=16)
    a2 = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode_arrow(adv, cba, m=8).collect()
    }
    h2 = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode(adv, m=8, n_codes=16).collect()
    }
    assert a2 == h2
    n_all = adv.count()
    assert len(a2) < n_all  # the zero-norm rows are really excluded


def test_bm25_empty_corpus_scores_zero(spark):
    """ADVICE r4: a corpus where every doc tokenizes empty has avgdl=0;
    the length norm must floor at (1-b) so scores are 0.0, never NaN."""
    import math

    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   \t ")], "doc_id long, text string"
    )
    rows = textstats.bm25_scores(docs, ["x", "y"]).collect()
    assert len(rows) == 3
    for r in rows:
        assert not math.isnan(r.bm25), r
        assert r.bm25 == 0.0


def test_bm25_idf_quant_tracks_exact(spark):
    """idf_quant=1e6 (the gate mode) snaps only the idf: scores stay
    within 2/1e6 relative of the exact-libm path and the per-doc
    ordering by score is preserved on the fixture."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    terms = ["join", "data", "zyzzyx"]
    exact = {r["id"]: r.bm25 for r in textstats.bm25_scores(docs, terms).collect()}
    quant = {
        r["id"]: r.bm25
        for r in textstats.bm25_scores(docs, terms, idf_quant=10**6).collect()
    }
    assert set(exact) == set(quant)
    for k in exact:
        assert abs(exact[k] - quant[k]) <= 2e-6 * max(1.0, abs(exact[k])), k


def test_tfidf_quantized_matches_float_ordering(spark):
    """quantize=1e6 yields int64 scores whose per-doc term ranking
    matches the float path on the fixture (vocab idf gaps >> 1e-6)."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    f5 = {r["id"]: list(r.terms) for r in textstats.tfidf_top_terms(docs, top_k=5).collect()}
    q5raw = textstats.tfidf_top_terms(docs, top_k=5, quantize=10**6).collect()
    q5 = {r["id"]: list(r.terms) for r in q5raw}
    assert f5 == q5
    assert all(isinstance(s, int) for r in q5raw for s in r.scores)


def test_pq_kmeans_trains_reproducibly_and_improves(spark):
    """pq_train_kmeans (VERDICT r4 #2): (a) bit-identical codebooks
    across runs AND across input partitionings (the two-cluster-size
    stand-in — exact int sums are partition-invariant); (b) strictly
    lower quantization SSE than the first-N init; (c) ADC top-k recall
    vs exact quantized-L2 ≥ the first-N baseline; (d) the Arrow and HOF
    encoders agree under the trained codebook too."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    m, n_codes, ds = 8, 16, 8
    cb0 = similarity.pq_train(emb, n_codes)
    cb1 = similarity.pq_train_kmeans(emb, m=m, n_codes=n_codes, n_iters=3)
    cb1b = similarity.pq_train_kmeans(
        emb.repartition(13), m=m, n_codes=n_codes, n_iters=3
    )
    assert cb1.shape == cb0.shape and (cb1 == cb1b).all()
    assert (cb1 != cb0).any()  # training actually moved the codebook

    base = similarity.cosine_base(emb)
    rows = base.select("id", "q").collect()
    ids = np.array([r["id"] for r in rows])
    Q = np.stack([np.asarray(r["q"], dtype=np.int64) for r in rows])

    def sse(cb):
        S = Q.reshape(len(Q), m, ds)
        sub = cb.reshape(n_codes, m, ds)
        d = np.einsum(
            "bcjk,bcjk->bcj",
            S[:, None] - sub[None],
            S[:, None] - sub[None],
        )
        return int(d.min(axis=1).sum())

    assert sse(cb1) < sse(cb0), (sse(cb1), sse(cb0))

    # exact quantized-L2 top-10 ground truth for the 50 lowest-id
    # queries (8×5 was too small a sample: recall estimates swung ±0.05
    # run-to-run; 50×10 separates the codebooks cleanly — measured
    # first-N 0.234 vs trained 0.28+ at every iteration count)
    order = np.argsort(ids)
    ids_s, Q_s = ids[order], Q[order]
    nq, k = 50, 10
    truth = {}
    for qi in range(nq):
        d2 = ((Q_s - Q_s[qi]) ** 2).sum(axis=1)
        d2[qi] = np.iinfo(np.int64).max
        nn = np.lexsort((ids_s, d2))[:k]
        truth[int(ids_s[qi])] = set(int(ids_s[j]) for j in nn)

    def recall(cb):
        got = similarity.pq_ann_topk(
            emb, k=k, m=m, n_codes=n_codes, n_queries=nq, codebook=cb
        ).collect()
        hits = sum(
            1 for r in got if r["neighbor_id"] in truth[r["query_id"]]
        )
        return hits / (nq * k)

    r0, r1 = recall(cb0), recall(cb1)
    assert r1 > r0, (r1, r0)

    # Arrow/HOF encoder parity holds for trained codebooks as well
    hof = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, m=m, codebook=cb1).collect()
    }
    arrow = {
        r["id"]: list(r["codes"])
        for r in similarity.pq_encode_arrow(emb, cb1, m=m).collect()
    }
    assert hof == arrow


def test_ivf_trained_coarse_codebook(spark):
    """ivf_ann_topk / ivfpq_ann_topk accept a trained coarse codebook
    (pq_train_kmeans with m=1 = plain Lloyd on full vectors): k rows
    per query, deterministic across runs."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    coarse = similarity.pq_train_kmeans(emb, m=1, n_codes=16, n_iters=2)
    a = similarity.ivf_ann_topk(emb, k=3, n_cells=16, codebook=coarse).collect()
    b = similarity.ivf_ann_topk(emb, k=3, n_cells=16, codebook=coarse).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_q = {}
    for r in a:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())
    c = similarity.ivfpq_ann_topk(
        emb, k=3, n_cells=16, nprobe=4, pq_codebook=None, ivf_codebook=coarse
    ).collect()
    assert len(c) > 0


def test_pq_ann_arrow_matches_hof(spark):
    """pq_ann_topk(arrow_encode=True) — the production path bench.py
    times — must be ROW-IDENTICAL to the interpreted-HOF oracle twin."""
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    hof = sorted(map(tuple, similarity.pq_ann_topk(emb, k=5, n_queries=8).collect()))
    arw = sorted(
        map(
            tuple,
            similarity.pq_ann_topk(
                emb, k=5, n_queries=8, arrow_encode=True
            ).collect(),
        )
    )
    assert hof == arw


def test_ivfpq_arrow_matches_hof(spark):
    """ivfpq_ann_topk(arrow_encode=True): the single-pass Arrow
    (cell_id, codes) attach must reproduce the HOF plan bit-for-bit —
    including the round(cosine, 6) HALF_UP cell ranking, replayed via
    Decimal(shortest-repr) in the kernel.  Checked on the shared fixture
    AND the adversarial embeddings (zero-norm rows, ties)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata_adv"):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        hof = sorted(
            map(tuple, similarity.ivfpq_ann_topk(emb, k=3, n_queries=10).collect())
        )
        arw = sorted(
            map(
                tuple,
                similarity.ivfpq_ann_topk(
                    emb, k=3, n_queries=10, arrow_encode=True
                ).collect(),
            )
        )
        assert hof == arw, sf
        # the attach stage itself agrees cell-by-cell (stronger than the
        # top-k subset): compare against ivf_cell_assignments + pq_encode
        pcb = similarity.pq_train(emb)
        cid, civ = similarity.ivf_train_cells(emb)
        att = {
            r["id"]: (r["cell_id"], tuple(r["codes"]))
            for r in similarity.ivfpq_attach_arrow(emb, pcb, cid, civ).collect()
        }
        ass = {
            r["id"]: r["cell_id"]
            for r in similarity.ivf_cell_assignments(emb).collect()
        }
        enc = {
            r["id"]: tuple(r["codes"])
            for r in similarity.pq_encode(emb).collect()
        }
        assert att == {i: (ass[i], enc[i]) for i in ass}, sf


def test_media_from_series_rejects_out_of_range(spark):
    """ADVICE r4: out-of-range samples must raise, not modulo-wrap into
    the pixel/PCM dtype."""
    import pytest as _pt

    bad_img = spark.createDataFrame(
        [(1, "image", 0, 300)], "media_id long, kind string, i int, s long"
    )
    with _pt.raises(Exception) as ei:
        multimodal.media_from_series(bad_img).collect()
    assert "uint8" in str(ei.value)
    bad_aud = spark.createDataFrame(
        [(2, "audio", 0, 40000)], "media_id long, kind string, i int, s long"
    )
    with _pt.raises(Exception) as ei:
        multimodal.media_from_series(bad_aud).collect()
    assert "int16" in str(ei.value)
    ok = spark.createDataFrame(
        [(3, "image", 0, 255), (4, "audio", 0, -32768)],
        "media_id long, kind string, i int, s long",
    )
    assert multimodal.media_from_series(ok).count() == 2


def test_pack_documents_matches_duckdb_and_invariants(spark):
    """Greedy shard-local sequence packing: (a) exact DuckDB window
    replica (all-integer arithmetic); (b) packing invariants — every
    doc in exactly one (shard, bin), bins fill contiguously from 0,
    a bin's token start-offset floor matches its id, and any bin except
    possibly a straddling last doc stays within budget + one doc."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    budget, n_shards = 256, 8
    got = textstats.pack_documents(
        docs, budget_tokens=budget, n_shards=n_shards
    )
    rows = got.collect()
    g = sorted((r["id"], r["n_tokens"], r["shard"], r["bin_id"], r["pos_in_bin"])
               for r in rows)
    g2 = sorted(
        (r["id"], r["n_tokens"], r["shard"], r["bin_id"], r["pos_in_bin"])
        for r in textstats.pack_documents(
            docs.repartition(13), budget_tokens=budget, n_shards=n_shards
        ).collect()
    )
    assert g == g2  # partition-invariant
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    words = (
        "list_filter(string_split_regex(trim(coalesce(text, '')),"
        " '[ \\t\\n\\x0B\\f\\r]+'), w -> w <> '')"
    )
    want = sorted(map(tuple, con.execute(f"""
        SELECT doc_id AS id, CAST(len({words}) AS BIGINT) AS n_tokens
        FROM documents
    """).fetchall()))
    # DuckDB can't reproduce xxhash64 shards, so replicate the packing
    # in Python over the Spark-computed (shard, id, n_tokens) stream —
    # an independent sequential oracle of the window arithmetic
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["id"])
        cum = 0
        seen_bins = defaultdict(int)
        for r in rs:
            assert r["bin_id"] == cum // budget, r
            assert r["pos_in_bin"] == seen_bins[r["bin_id"]], r
            seen_bins[r["bin_id"]] += 1
            cum += r["n_tokens"]
    # token counts agree with the DuckDB tokenizer
    assert sorted((r["id"], r["n_tokens"]) for r in rows) == want
    # every doc present exactly once
    assert len({r["id"] for r in rows}) == len(rows) == docs.count()
    # unknown hash_mode raises instead of silently re-sharding (r6)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_mode"):
        textstats.pack_documents(docs, hash_mode="xxHash64")


def test_png_codec_roundtrip_and_filters(spark):
    """Native PNG codec (stdlib zlib — a genuinely COMPRESSED image
    format with no external library): (a) encode→decode roundtrip for
    gray and RGB; (b) the decoder reconstructs all five scanline
    filters from hand-filtered streams; (c) CRC corruption and JPEG
    payloads fail loudly; (d) decoded_stats value-checks PNG media
    end-to-end through the Spark path."""
    import struct as _struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(21)
    gray = rng.integers(0, 256, size=(16, 13)).astype(np.uint8)
    rgb = rng.integers(0, 256, size=(9, 7, 3)).astype(np.uint8)
    assert (multimodal.decode_png(multimodal.encode_png(gray)) == gray).all()
    assert (multimodal.decode_png(multimodal.encode_png(rgb)) == rgb).all()
    # hand-filter an RGB image with every filter type and re-decode
    img = rng.integers(0, 256, size=(5, 6, 3)).astype(np.int32)
    h, w, bpp = 5, 6, 3
    stride = w * bpp
    flat = img.reshape(h, stride)
    raw = b""
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        ft = r % 5
        cur = flat[r]
        line = np.empty(stride, dtype=np.int32)
        for i in range(stride):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ft]) + line.astype(np.uint8).tobytes()
        prev = cur
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert (multimodal.decode_png(payload) == img.astype(np.uint8)).all()
    # corruption and unsupported formats fail loudly
    bad = bytearray(multimodal.encode_png(gray))
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        multimodal.decode_png(bytes(bad))
    with pytest.raises(ValueError):  # truncated JPEG (now a real codec)
        multimodal.decode_image(b"\xff\xd8\xff" + b"\x00" * 10)
    # Spark decoded_stats over PNG media: exact integer functionals
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(multimodal.encode_png(gray)),
             {"width": 13, "height": 16, "sample_rate": None,
              "n_bytes": 0}),
            (2, "image", bytearray(b"\xff\xd8broken"),
             {"width": 0, "height": 0, "sample_rate": None, "n_bytes": 0}),
        ],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:int>",
    )
    stats = {r["media_id"]: r for r in multimodal.decoded_stats(media).collect()}
    g = gray.astype(np.int64)
    # gray normalizes to 3 RGB channels (as_rgb — the one pixel contract,
    # matching the BMP gray-encode convention), so the functionals triple
    assert stats[1]["decoded_ok"] and stats[1]["n_vals"] == 3 * g.size
    assert stats[1]["v_sum"] == 3 * int(g.sum())
    assert stats[1]["v_sumsq"] == 3 * int((g * g).sum())
    assert not stats[2]["decoded_ok"]  # poisoned payload costs one row
    # a CRC-intact PNG with a corrupt DEFLATE stream (zlib.error) also
    # costs one row, not a task failure (review r5)
    import struct as _s

    bad_idat = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(
            b"IHDR", _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
        )
        + multimodal._png_chunk(b"IDAT", b"\x99not-zlib\x00\x01")
        + multimodal._png_chunk(b"IEND", b"")
    )
    media2 = spark.createDataFrame(
        [(3, "image", bytearray(bad_idat),
          {"width": 4, "height": 4, "sample_rate": None, "n_bytes": 0})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:int>",
    )
    r3 = multimodal.decoded_stats(media2).collect()[0]
    assert not r3["decoded_ok"]
    # gray+alpha and RGBA normalize to RGB (alpha dropped)
    ga = np.dstack([gray, np.full_like(gray, 7)])
    assert (multimodal.as_rgb(ga)[:, :, 1] == gray).all()
    rgba = np.dstack([rgb, np.full(rgb.shape[:2], 255, dtype=np.uint8)])
    assert (multimodal.as_rgb(rgba) == rgb).all()


def test_gopher_quality_flags(spark):
    """Gopher repetition/format rules: engineered documents trip each
    rule exactly once, and the full fixture agrees with an independent
    Python replica of every rule."""
    import re

    mk = [
        # 0: good doc — passes everything
        (0, " ".join(["the quick brown fox jumps over a lazy dog ok fine"] * 6)),
        # 1: too short
        (1, "the a of and tiny"),
        # 2: mean word length too high
        (2, " ".join(["pneumonoultramicroscopics"] * 60) + " the a of"),
        # 3: symbol ratio (#)
        (3, " ".join(["the a of and to in is it for on word"] * 5)
            + " " + "# " * 40),
        # 4: bulleted lines
        (4, "\n".join(["- the a of and to in is it for on item"] * 10)),
        # 5: ellipsis lines
        (5, "\n".join(["the a of and to in is it for on more..."] * 10)),
        # 6: non-alphabetic words
        (6, " ".join(["123 456 789 000"] * 15) + " the a of and to"),
        # 7: no stopwords
        (7, " ".join(["zorp blix quux flarn"] * 15)),
        # 8: duplicate lines
        (8, "\n".join(["the a of and to in is it for on same line"] * 8
                      + ["unique one here now ok yes truly fresh line x"])),
    ]
    docs = spark.createDataFrame(mk, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.gopher_quality_flags(docs).collect()}
    assert got[0]["gopher_pass"], dict(got[0].asDict())
    fails = {
        1: "ok_token_count", 2: "ok_mean_word_len", 3: "ok_symbol_ratio",
        4: "ok_bullet_lines", 5: "ok_ellipsis_lines", 6: "ok_alpha_words",
        7: "ok_stopwords", 8: "ok_dup_lines",
    }
    for did, rule in fails.items():
        assert not got[did][rule], (did, rule, dict(got[did].asDict()))
        assert not got[did]["gopher_pass"], did

    # plan contract: one scan projection — no exchange, no Python, no
    # explode (the 100 TB shape)
    plan = textstats.gopher_quality_flags(docs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan
    assert "Generate" not in plan

    # independent Python replica over the shared fixture
    sf = "/root/testdata/sf0.001"
    fix = spark.read.parquet(f"{sf}/documents.parquet")
    rows = {
        r["doc_id"]: r for r in textstats.gopher_quality_flags(fix).collect()
    }
    stops = set(textstats.STOPWORDS["en"])
    for r in fix.select("doc_id", "text").collect():
        text = r["text"] or ""
        toks = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text.strip()) if w]
        n = len(toks)
        lines = [ln for ln in text.split("\n") if ln.strip(" ")]
        nl = len(lines)
        nsym = text.count("#") + text.count("…") + 3 * text.count("...")
        g = rows[r["doc_id"]]
        assert g["n_tokens"] == n
        assert g["ok_token_count"] == (50 <= n <= 100_000)
        mwl = sum(map(len, toks)) / n if n else 0.0
        assert g["ok_mean_word_len"] == (3.0 <= mwl <= 10.0)
        assert g["ok_symbol_ratio"] == (nsym / n <= 0.1 if n else True)
        nb = sum(1 for ln in lines if re.match(r"^[-*•]", ln.strip(" ")))
        assert g["ok_bullet_lines"] == (nb / nl <= 0.9 if nl else True)
        ne = sum(
            1 for ln in lines if re.search(r"(\.\.\.|…)\Z", ln.rstrip(" "))
        )
        assert g["ok_ellipsis_lines"] == (ne / nl <= 0.3 if nl else True)
        na = sum(1 for w in toks if re.search(r"[A-Za-z]", w))
        assert g["ok_alpha_words"] == (na / n >= 0.8 if n else False)
        sw = sum(1 for w in toks if w.lower() in stops)
        assert g["ok_stopwords"] == (sw >= 2)
        nd = len({ln.strip(" ") for ln in lines})
        assert g["ok_dup_lines"] == (
            (nl - nd) / nl <= 0.3 if nl else True
        )


def test_curation_pipeline_end_to_end(spark):
    """The full training-data curation flow composed from the engine's
    own operators on the shared fixture: exact dedup → MinHash near-dup
    keep-list → Gopher quality + language filters → span-level dedup
    stats → benchmark decontamination → PII scrub → deterministic
    domain-mix downsample → greedy sequence packing.  Pins that the
    stages compose (schemas line up, nothing collects driver-side
    except the final asserts) and that each stage only ever shrinks or
    preserves the survivor set."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n0 = docs.count()

    # 1. exact dedup on the full text: keep the lowest id per digest
    groups = dedup.exact_dedup(docs, F.col("text"))
    keep_exact = groups.select(F.col("keep_id").alias("doc_id"))
    d1 = docs.join(keep_exact, "doc_id")
    n1 = d1.count()
    assert 0 < n1 <= n0

    # 2. near-dup keep-list via MinHash pairs + connected components
    pairs = dedup.minhash_dedup_pairs(d1, threshold=0.8)
    keep = dedup.dedup_keep_list(d1.select("doc_id"), pairs)
    d2 = d1.join(keep.where(F.col("keep")).select("doc_id"), "doc_id")
    n2 = d2.count()
    assert 0 < n2 <= n1

    # 3. quality + language filters (flags materialize once)
    flagged = textstats.gopher_quality_flags(
        textstats.with_language_id(d2)
    )
    d3 = flagged.where(F.col("gopher_pass") & (F.col("lang_pred") == "en"))
    n3 = d3.count()
    assert 0 < n3 <= n2

    # 3b. span-level dedup keep (substring duplication budget) — the
    # fixture's survivors are already exact/near-deduped so the 50%
    # threshold keeps them all, but the stage must COMPOSE (the stats
    # join back by doc_id without collecting)
    span_keep = dedup.span_dedup_keep(d3.select("doc_id", "text"))
    d3b = d3.join(
        span_keep.where(F.col("keep")).select("doc_id"), "doc_id"
    )
    n3b = d3b.count()
    assert 0 < n3b <= n3

    # 3c. benchmark decontamination BEFORE the PII scrub (both sides of
    # the n-gram match must see identically-normalized text — redacting
    # first would let a leaked passage containing an email escape): the
    # held-out every-20th-doc slice plays the eval set (it contains the
    # planted near-dups, so the stage genuinely fires — it must drop
    # any survivor sharing an 8-gram with it)
    bench = docs.where(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    dk = dedup.decontaminate_keep(
        d3b.where(F.col("doc_id") % 20 != 0).select("doc_id", "text"),
        bench, n=8,
    )
    d3c = d3b.join(dk.where(F.col("keep")).select("doc_id"), "doc_id")
    n3c = d3c.count()
    assert 0 < n3c <= n3b

    # 3d. PII scrub: survivors carry the redacted text forward
    scrubbed = textstats.with_pii_flags(d3c).select(
        "doc_id", F.col("redacted").alias("text"), "n_pii"
    )
    assert scrubbed.where(F.col("n_pii") > 0).count() == 0  # fixture clean
    n3d = n3c

    # 3e. deterministic domain-mix downsample (id-keyed, no rand()):
    # synthetic domains at recipe weights; re-running must select the
    # SAME ids (asserted via the pipeline-level determinism check below)
    from ts_process_spark.operators import sampling

    mixed = sampling.stratified_sample(
        scrubbed.withColumn(
            "domain",
            F.when(F.col("doc_id") % 2 == 0, "web").otherwise("wiki"),
        ),
        {"web": 800_000, "wiki": 950_000},
        salt="pipe1",
    ).drop("domain")
    n3 = mixed.count()
    assert 0 < n3 <= n3d
    scrubbed = mixed

    # 4. pack survivors into 512-token shard-local bins
    packed = textstats.pack_documents(
        scrubbed.select("doc_id", "text"), budget_tokens=512, n_shards=4
    )
    rows = packed.collect()
    assert len(rows) == n3  # every survivor packed exactly once
    assert len({r["id"] for r in rows}) == n3
    # per-(shard, bin) used tokens only exceed the budget via one
    # straddling document (greedy streaming-pack rule)
    from collections import defaultdict

    used = defaultdict(int)
    maxdoc = defaultdict(int)
    for r in rows:
        used[(r["shard"], r["bin_id"])] += r["n_tokens"]
        maxdoc[(r["shard"], r["bin_id"])] = max(
            maxdoc[(r["shard"], r["bin_id"])], r["n_tokens"]
        )
    for k, tot in used.items():
        assert tot - maxdoc[k] < 512, (k, tot, maxdoc[k])
    # determinism of the whole composed pipeline
    again = textstats.pack_documents(
        scrubbed.select("doc_id", "text"), budget_tokens=512, n_shards=4
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_png_gif_extended_variants():
    """Round-6 media-boundary closure: palette / sub-8-bit / 16-bit /
    Adam7 PNG and local-color-table / interlaced GIF.  (a) Real-file
    interop — container files cover palette depths 2/4/8, an
    interlaced RGBA (libpng's own pngtest.png, which caught a wrong
    y-origin in the Adam7 pass table during development), and an
    interlaced GIF.  (b) Synthetic exactness — hand-built files with
    known pixels must decode EXACTLY (palette+tRNS at every depth,
    16-bit MSB reduction, Adam7 re-interlace roundtrip, GIF interlace
    row permutation, GIF local color table)."""
    import os
    import struct as st
    import zlib as zl

    import numpy as np
    import pytest

    from ts_process_spark.operators import multimodal as mm

    # ---- (a) real container files
    real = [
        ("/usr/share/gitweb/static/git-favicon.png", 3),
        ("/usr/share/icons/locolor/16x16/apps/gvim.png", 4),  # has tRNS
        ("/usr/share/gitweb/static/git-logo.png", 3),
        ("/usr/share/doc/libpng-dev/examples/pngtest.png", 4),
        ("/usr/share/tcltk/tk8.6/images/tai-ku.gif", 3),
    ]
    n_real = 0
    for path, nch in real:
        if not os.path.exists(path):
            continue
        img = mm.decode_image(open(path, "rb").read())
        assert img.ndim == 3 and img.shape[2] == nch, (path, img.shape)
        assert float(img.std()) > 0, path
        n_real += 1
    assert n_real >= 3

    # ---- (b) synthetic palette PNG at depths 1/2/4/8 (+ tRNS)
    def palette_png(idx, depth, plte, trns=None):
        h, w = idx.shape
        per_byte = 8 // depth
        rows = bytearray()
        for r in range(h):
            rows.append(0)  # filter None
            byte = acc = 0
            for c in range(w):
                acc = (acc << depth) | int(idx[r, c])
                byte += 1
                if byte == per_byte:
                    rows.append(acc)
                    byte = acc = 0
            if byte:
                rows.append(acc << (depth * (per_byte - byte)))
        out = mm._PNG_SIG
        out += mm._png_chunk(
            b"IHDR", st.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0))
        out += mm._png_chunk(b"PLTE", plte.tobytes())
        if trns is not None:
            out += mm._png_chunk(b"tRNS", bytes(trns))
        out += mm._png_chunk(b"IDAT", zl.compress(bytes(rows)))
        out += mm._png_chunk(b"IEND", b"")
        return out

    rng = np.random.default_rng(7)
    for depth in (1, 2, 4, 8):
        n = 2 ** depth
        plte = rng.integers(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.integers(0, n, (5, 11)).astype(np.uint8)
        got = mm.decode_png(palette_png(idx, depth, plte))
        assert np.array_equal(got, plte[idx]), depth
        trns = list(rng.integers(0, 256, min(3, n)))
        got = mm.decode_png(palette_png(idx, depth, plte, trns))
        alpha = np.full(n, 255, np.uint8)
        alpha[: len(trns)] = trns
        want = np.concatenate([plte[idx], alpha[idx][:, :, None]], axis=2)
        assert np.array_equal(got, want), depth
    # out-of-range palette index fails loudly
    bad = palette_png(np.full((2, 2), 3, np.uint8), 2,
                      rng.integers(0, 256, (2, 3)).astype(np.uint8))
    with pytest.raises(ValueError):
        mm.decode_png(bad)

    # ---- 16-bit gray + RGB reduce to the high byte
    g16 = rng.integers(0, 65536, (4, 6)).astype(np.uint16)
    rows = bytearray()
    for r in range(4):
        rows.append(0)
        rows += g16[r].astype(">u2").tobytes()
    p = (mm._PNG_SIG
         + mm._png_chunk(b"IHDR", st.pack(">IIBBBBB", 6, 4, 16, 0, 0, 0, 0))
         + mm._png_chunk(b"IDAT", zl.compress(bytes(rows)))
         + mm._png_chunk(b"IEND", b""))
    assert np.array_equal(mm.decode_png(p), (g16 >> 8).astype(np.uint8))

    # ---- sub-8-bit grayscale scales to full range
    g1 = np.array([[1, 0, 1], [0, 1, 0]], np.uint8)
    rows = bytes([0, 0b10100000, 0, 0b01000000])
    p = (mm._PNG_SIG
         + mm._png_chunk(b"IHDR", st.pack(">IIBBBBB", 3, 2, 1, 0, 0, 0, 0))
         + mm._png_chunk(b"IDAT", zl.compress(rows))
         + mm._png_chunk(b"IEND", b""))
    assert np.array_equal(mm.decode_png(p), g1 * 255)

    # ---- Adam7: re-interlace a known RGB image (filter-0 rows per
    # pass over the module's pass table — the table itself is pinned
    # by the real pngtest.png interop above) and require exact decode
    img = rng.integers(0, 256, (13, 10, 3)).astype(np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in mm._ADAM7:
        sub = img[y0::dy, x0::dx]
        for r in range(sub.shape[0]):
            raw.append(0)
            raw += sub[r].tobytes()
    p = (mm._PNG_SIG
         + mm._png_chunk(b"IHDR", st.pack(">IIBBBBB", 10, 13, 8, 2, 0, 0, 1))
         + mm._png_chunk(b"IDAT", zl.compress(bytes(raw)))
         + mm._png_chunk(b"IEND", b""))
    assert np.array_equal(mm.decode_png(p), img)

    # ---- GIF interlace: write rows in pass order, flip the flag
    garr = rng.integers(0, 256, (23, 9)).astype(np.uint8)
    h = garr.shape[0]
    order = [*range(0, h, 8), *range(4, h, 8),
             *range(2, h, 4), *range(1, h, 2)]
    gif = bytearray(mm.encode_gif(garr[order]))
    desc = gif.index(0x2C, 13 + 768)  # image descriptor after palette
    gif[desc + 9] |= 0x40  # set the interlace flag
    got = mm.decode_gif(bytes(gif))
    assert np.array_equal(got, np.stack([garr] * 3, axis=-1))

    # ---- GIF local color table: strip the global table, move it
    # (reversed, so the source is provably the local one) after the
    # image descriptor with the local-table flag set
    garr2 = rng.integers(0, 256, (6, 5)).astype(np.uint8)
    src = mm.encode_gif(garr2)
    hdr, pal, rest = src[:13], src[13:13 + 768], src[13 + 768:]
    hdr = bytearray(hdr)
    hdr[10] &= 0x7F  # clear the global-color-table flag
    rest = bytearray(rest)
    assert rest[0] == 0x2C
    rest[9] = 0x80 | 7  # local color table, 256 entries
    lpal = bytes(reversed(pal))
    out = bytes(hdr) + bytes(rest[:10]) + lpal + bytes(rest[10:])
    got = mm.decode_gif(out)
    lp = np.frombuffer(lpal, np.uint8).reshape(256, 3)
    assert np.array_equal(got, lp[garr2])


def test_gif_codec_roundtrip(spark):
    """Native GIF codec (pure-Python LZW): encode→decode roundtrip
    across width-growth and dictionary-clear boundaries (>4094 codes),
    GIF89a extension-block skipping, dispatch through decode_image,
    and exact decoded_stats over GIF media."""
    import numpy as np

    rng = np.random.default_rng(31)
    for shape in [(8, 8), (64, 64), (100, 37), (1, 1), (120, 120)]:
        img = rng.integers(0, 256, size=shape).astype(np.uint8)
        back = multimodal.decode_gif(multimodal.encode_gif(img))
        assert back.shape == shape + (3,), shape
        for ch in range(3):  # gray palette replicates across channels
            assert (back[:, :, ch] == img).all(), shape
    img = rng.integers(0, 256, size=(16, 16)).astype(np.uint8)
    # 89a + comment extension block still decodes
    g = bytearray(multimodal.encode_gif(img))
    g[4:5] = b"9"
    g2 = bytes(g[: 13 + 768]) + b"\x21\xfe\x05hello\x00" + bytes(g[13 + 768:])
    assert (multimodal.decode_gif(g2)[:, :, 0] == img).all()
    # truncated stream fails loudly
    with pytest.raises(ValueError):
        multimodal.decode_gif(bytes(g)[:-20])
    media = spark.createDataFrame(
        [(1, "image", bytearray(multimodal.encode_gif(img)),
          {"width": 16, "height": 16, "sample_rate": None, "n_bytes": 0})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:int>",
    )
    r = multimodal.decoded_stats(media).collect()[0]
    gi = img.astype(np.int64)
    assert r["decoded_ok"] and r["n_vals"] == 3 * gi.size
    assert r["v_sum"] == 3 * int(gi.sum())


def test_jpeg_codec(spark):
    """Native baseline JPEG codec: (a) gray roundtrip is exact on a
    smooth image (quantization fine enough) and bounded on noise;
    (b) RGB 4:4:4 roundtrip within chroma tolerance; (c) INTEROP —
    decodes real libjpeg-encoded files shipped in this container (a
    4:2:0 photo with restart intervals among them); (d) dispatch +
    decoded_stats through the Spark path; (e) truncation fails loudly
    and costs one row."""
    import os

    import numpy as np

    from ts_process_spark.functions import jpeg

    rng = np.random.default_rng(5)
    base = np.kron(rng.normal(0, 1, (6, 6)), np.ones((16, 16)))
    gray = ((base - base.min()) / (base.ptp() + 1e-9) * 255).astype(np.uint8)
    back = jpeg.decode_jpeg(jpeg.encode_jpeg(gray))
    assert (back == gray).all()  # smooth image: lossless at this Q
    noisy = rng.integers(0, 256, (32, 32)).astype(np.uint8)
    nb = jpeg.decode_jpeg(jpeg.encode_jpeg(noisy))
    assert np.abs(nb.astype(float) - noisy).mean() < 10
    rgb = np.stack(
        [np.kron(rng.normal(0, 1, (4, 4)), np.ones((12, 12)))
         for _ in range(3)], -1)
    rgb = ((rgb - rgb.min()) / (rgb.ptp() + 1e-9) * 255).astype(np.uint8)
    cb = jpeg.decode_jpeg(jpeg.encode_jpeg(rgb))
    assert cb.shape == rgb.shape
    assert np.abs(cb.astype(float) - rgb.astype(float)).mean() < 3
    # real libjpeg files (skip silently if the container layout changes)
    real = [
        ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
         "python3.11/site-packages/IPython/core/tests/2x2.jpg", (2, 2)),
        ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
         "python3.11/test/imghdrdata/python.jpg", (16, 16, 3)),
        ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
         "doc/rust/html/embedded-book/assets/verify.jpeg", (477, 720, 3)),
    ]
    n_real = 0
    for path, shape in real:
        if not os.path.exists(path):
            continue
        img = jpeg.decode_jpeg(open(path, "rb").read())
        assert img.shape == shape, path
        assert 0 < float(img.std()) or img.size <= 4, path
        n_real += 1
    assert n_real >= 1  # at least one genuine interop file decoded
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(jpeg.encode_jpeg(gray)[:-30])
    # Spark path: decoded_stats over a JPEG payload, exact functionals
    media = spark.createDataFrame(
        [(1, "image", bytearray(jpeg.encode_jpeg(gray)),
          {"width": 96, "height": 96, "sample_rate": None, "n_bytes": 0})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:int>",
    )
    r = multimodal.decoded_stats(media).collect()[0]
    g = gray.astype(np.int64)
    assert r["decoded_ok"] and r["n_vals"] == 3 * g.size
    assert r["v_sum"] == 3 * int(g.sum())  # smooth roundtrip is exact


def test_jpeg_progressive(spark):
    """Progressive JPEG (SOF2, VERDICT r5 #4): (a) the HARD invariant —
    a progressive file carries the same quantized coefficients as its
    baseline twin, so decode must be BIT-identical (scans only reorder
    coefficient bits); pinned across gray/RGB, odd sizes, sparse and
    noise content, with and without restart intervals (which also pin
    the progressive restart path no container file exercises); (b) real
    libjpeg-progressive interop: the container ships progressive files
    with multi-stage successive approximation (Al 2→1→0) and
    spectral-selection splits that our encoder does not produce —
    decodes without desync (any misaligned bit raises loudly within a
    few symbols); (c) the decoded_stats Spark path accepts progressive
    payloads; (d) malformed scans keep the loud-error contract."""
    import os

    import numpy as np
    import pytest

    from ts_process_spark.functions import jpeg

    rng = np.random.default_rng(17)
    cases = [
        rng.integers(0, 256, (24, 17)).astype(np.uint8),
        rng.integers(0, 256, (16, 16, 3)).astype(np.uint8),
        np.where(rng.random((40, 33, 3)) > 0.95, 255, 0).astype(np.uint8),
        np.full((8, 8), 130, np.uint8),
        rng.integers(0, 256, (1, 1, 3)).astype(np.uint8),
    ]
    for img in cases:
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
        for ri in (0, 3):
            prog = jpeg.decode_jpeg(
                jpeg.encode_jpeg_progressive(img, restart_interval=ri)
            )
            assert np.array_equal(base, prog), (img.shape, ri)
    # real libjpeg progressive files (skip silently if layout changes)
    real = [
        ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
         "multi-channel/grayscale.jpg", (215, 300)),
        ("/usr/share/doc/nodejs/thin-white-stripe.jpg", (58, 493, 3)),
        ("/usr/share/doc/nodejs/full-white-stripe.jpg", (312, 493, 3)),
    ]
    n_real = 0
    for path, shape in real:
        if not os.path.exists(path):
            continue
        payload = open(path, "rb").read()
        # confirm the fixture really is progressive (SOF2 present)
        assert b"\xff\xc2" in payload, path
        img = jpeg.decode_jpeg(payload)
        assert img.shape == shape, path
        assert float(img.std()) > 0, path
        n_real += 1
    assert n_real >= 1
    # the white-stripe fixtures are named for their content: decoded
    # pixels must actually be predominantly white, a value-level check
    # no desync survives
    p = "/usr/share/doc/nodejs/full-white-stripe.jpg"
    if os.path.exists(p):
        img = jpeg.decode_jpeg(open(p, "rb").read())
        assert (img.mean(axis=-1) > 200).mean() > 0.8
    # Spark path: progressive payload through decoded_stats
    gray = np.kron(
        rng.integers(60, 196, (6, 6)), np.ones((8, 8), np.int64)
    ).astype(np.uint8)
    pb = jpeg.encode_jpeg_progressive(gray, restart_interval=2)
    media = spark.createDataFrame(
        [(1, "image", bytearray(pb),
          {"width": 48, "height": 48, "sample_rate": None, "n_bytes": 0})],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_bytes:int>",
    )
    r = multimodal.decoded_stats(media).collect()[0]
    assert r["decoded_ok"] and r["n_vals"] == 3 * gray.size
    assert r["v_sum"] == 3 * int(gray.astype(np.int64).sum())
    # loud-error contract: truncated progressive tail, missing EOI
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(pb[:-10])


def test_jpeg_progressive_subsampled():
    """Progressive + chroma subsampling (review r6): the in-repo
    progressive encoder emits only 4:4:4 and every container fixture is
    4:4:4/gray, so the subsampled _scan_units branches — interleaved DC
    over the MCU grid with per-component sub-blocks, and the
    non-interleaved AC walk over a component's OWN ceil(w·hs/hmax)
    block grid (smaller than the MCU-padded coefficient array) — had no
    test.  Synthesize a 4:2:0 progressive file from known coefficients
    with the module's own primitives and require decode_jpeg to
    reproduce EXACTLY the reconstruction of the coefficient state the
    scans can express (AC outside the non-interleaved grid stays 0)."""
    import struct

    import numpy as np

    from ts_process_spark.functions import jpeg

    rng = np.random.default_rng(31)
    h, w = 24, 20                       # mcuy=2, mcux=2 at 2x2 sampling
    comps = [(1, 2, 2, 0), (2, 1, 1, 0), (3, 1, 1, 0)]  # Y 4:2:0
    grids = {1: (4, 4), 2: (2, 2), 3: (2, 2)}  # MCU-padded block grids
    coef = {
        cid: rng.integers(-40, 41, (gy, gx, 64)).astype(np.int64)
        for cid, (gy, gx) in grids.items()
    }
    dc_codes = jpeg._canonical_codes(jpeg.DC_BITS, jpeg.DC_VALS)
    ac_codes = jpeg._canonical_codes(jpeg.AC_BITS, jpeg.AC_VALS)
    # --- DC first (Al=1) + refinement, interleaved over the MCU grid
    bw1, bw2 = jpeg.BitWriter(), jpeg.BitWriter()
    prev = {1: 0, 2: 0, 3: 0}
    for my in range(2):
        for mx in range(2):
            for cid, hs, vs, _ in comps:
                for by in range(vs):
                    for bx in range(hs):
                        dc = int(coef[cid][my * vs + by, mx * hs + bx, 0])
                        v = dc >> 1
                        s, bits = jpeg._mag_bits(v - prev[cid])
                        c, ln = dc_codes[s]
                        bw1.put(c, ln)
                        if s:
                            bw1.put(bits, s)
                        prev[cid] = v
                        bw2.put(dc & 1, 1)
    bw1.flush()
    bw2.flush()
    # --- non-interleaved AC scans walk each component's OWN grid:
    # Y: cw=ceil(20*2/2)=20 → 3 block cols, ch=24 → 3 rows (NOT the
    # 4x4 MCU-padded array); chroma: 10x12 → full 2x2
    ac_grids = {1: (3, 3), 2: (2, 2), 3: (2, 2)}
    allc = [(1, 0), (2, 0), (3, 0)]
    scans = [(allc, 0, 0, 0, 1, bw1), (allc, 0, 0, 1, 0, bw2)]
    for cid, _, _, _ in comps:
        gy, gx = ac_grids[cid]
        sub = coef[cid][:gy, :gx]
        scans.append(([(cid, 0)], 1, 63, 0, 1,
                      jpeg._enc_ac_first(sub, 1, 63, 1, ac_codes)))
        scans.append(([(cid, 0)], 1, 63, 1, 0,
                      jpeg._enc_ac_refine(sub, 1, 63, 0, ac_codes)))
    # --- assemble the SOF2 file by hand (4:2:0 sampling bytes)
    qz = jpeg.QTABLE.ravel()[jpeg.ZIGZAG]
    out = b"\xff\xd8"
    out += jpeg._seg(0xDB, bytes([0]) + bytes(int(x) for x in qz))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += jpeg._seg(0xC2, sof)
    out += jpeg._seg(
        0xC4, bytes([0x00]) + bytes(jpeg.DC_BITS) + bytes(jpeg.DC_VALS))
    out += jpeg._seg(
        0xC4, bytes([0x10]) + bytes(jpeg.AC_BITS) + bytes(jpeg.AC_VALS))
    for cis, ss, se, ah, al, bw in scans:
        sos = bytes([len(cis)])
        for cid, ta in cis:
            sos += bytes([cid, ta])
        sos += bytes([ss, se, (ah << 4) | al])
        out += jpeg._seg(0xDA, sos)
        out += bytes(bw.buf)
    out += b"\xff\xd9"
    # --- expected: the exact coefficient state the scans can express
    expect = {cid: arr.copy() for cid, arr in coef.items()}
    gy, gx = ac_grids[1]
    expect[1][gy:, :, 1:] = 0
    expect[1][:, gx:, 1:] = 0
    qt = {0: jpeg.QTABLE}
    want = jpeg._reconstruct_progressive(expect, comps, qt, h, w)
    got = jpeg.decode_jpeg(out)
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, want)


# ---------------------------------------------- span-level (substring) dedup


def test_span_dedup_interval_union_exact(spark):
    """Crafted fixture pinning the union-interval arithmetic: two
    identical 40-char docs make every sampled window duplicated, and the
    EXACT union coverage is 40 chars (not 3 windows x 24 = 72 — the
    running-max must collapse the overlaps); a self-repeating doc is
    duplicated against itself; a unique doc and a doc shorter than k
    contribute nothing."""
    import pandas as pd

    a = "0123456789abcdefghijklmnopqrstuvwxyzABCD"  # 40 chars
    rep = "Z" * 30 + "Q" + "Z" * 30  # self-similar: Z-runs repeat
    rows = [
        (0, a),
        (1, a),  # exact dup of 0
        (2, "totally unique prose that shares no 24-char span with rest."),
        (3, "tiny"),  # shorter than k -> zero windows
        (4, rep),
        (5, None),  # NULL text -> zero windows, zero chars
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r["doc_id"]: (r["n_chars"], r["n_windows"], r["n_dup_windows"], r["dup_chars"])
        for r in dedup.duplicated_span_stats(docs, hash_mode="md5").collect()
    }
    # doc 0/1: len 40, windows at pos 0/8/16 (3), all dup, union = 16+24 = 40
    assert got[0] == (40, 3, 3, 40) and got[1] == (40, 3, 3, 40)
    # unique doc: windows but no dups
    assert got[2][2] == 0 and got[2][3] == 0 and got[2][1] > 0
    # short doc: no windows at all
    assert got[3] == (4, 0, 0, 0)
    # self-repetition: 'Z'*24 occurs at many offsets within ONE doc
    assert got[4][2] > 0 and got[4][3] > 0
    assert got[5] == (0, 0, 0, 0)
    # keep-list integer boundary: docs 0/1/4 are >50% duplicated
    keep = {
        r["doc_id"]: r["keep"]
        for r in dedup.span_dedup_keep(docs, max_dup_pct=50, hash_mode="md5").collect()
    }
    assert keep == {0: False, 1: False, 2: True, 3: True, 4: False, 5: True}
    # invalid hash mode fails loudly
    with pytest.raises(ValueError, match="hash_mode"):
        dedup.duplicated_span_stats(docs, hash_mode="xxHash")


def test_span_dedup_matches_duckdb_and_prod_twin(spark):
    """(a) md5 mode is bit-exact vs the DuckDB replica on BOTH the
    shared fixture and the hostile non-ASCII adversarial docs (emoji /
    ZWJ / combining marks: both engines count codepoints); (b) the
    xxhash64 production mode yields the same stats on these fixtures
    (no 64-bit collisions); (c) the plan is partition-invariant."""
    import duckdb

    from ts_process_spark.queries_docs import _sql_doc_span_dedup

    for sf in ("/root/testdata/sf0.001", "/root/testdata_adv"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        got = sorted(
            tuple(r)
            for r in dedup.duplicated_span_stats(docs, hash_mode="md5").collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        want = sorted(map(tuple, con.execute(_sql_doc_span_dedup()).fetchall()))
        assert got == want, sf
        prod = sorted(
            tuple(r)
            for r in dedup.duplicated_span_stats(docs).collect()
        )
        assert prod == got, sf
        shuffled = sorted(
            tuple(r)
            for r in dedup.duplicated_span_stats(
                docs.repartition(7), hash_mode="md5"
            ).collect()
        )
        assert shuffled == got, sf


def test_span_dedup_hot_gram_skew(spark):
    """Adversarial hot-gram fixture (VERDICT r6 #4): ONE 24-char
    boilerplate gram repeated in EVERY doc, many times per doc — the
    worst-case key for any plan that hash-partitions raw windows by
    content.  Value contract: results are exact (vs an independent
    per-doc computation of the interval union) and IDENTICAL across
    partitionings."""
    import pandas as pd

    boiler = "COMMON-FOOTER-BOILERPLATE"[:24]
    assert len(boiler) == 24
    rows = []
    for d in range(40):
        uniq = f"doc{d:02d}-" + "".join(
            chr(ord("a") + (d * 7 + j) % 26) for j in range(30)
        )
        # boilerplate at stride-aligned offsets, repeated 6x per doc,
        # interleaved with unique text → 240 hot windows over 40 docs
        rows.append((d, (boiler * 6) + uniq + boiler))
    rows.append((40, "entirely unique text with no boilerplate at all.."))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    base = sorted(
        tuple(r) for r in dedup.duplicated_span_stats(docs).collect()
    )
    got = {r[0]: r for r in base}
    # every boilerplate doc: the 6x prefix run (144 chars) is fully
    # dup-covered (windows at pos 0..120 all repeat in every doc and
    # union to [0, 144)); n_chars is exact
    for d in range(40):
        n_chars, dup_chars = got[d][1], got[d][4]
        assert n_chars == len(rows[d][1]), got[d]
        assert dup_chars >= 144, got[d]
    assert got[40][3] == 0 and got[40][4] == 0
    # a hostile partitioning agrees exactly
    spread = sorted(
        tuple(r)
        for r in dedup.duplicated_span_stats(docs.repartition(13)).collect()
    )
    assert spread == base


# ------------------------------------------------- duplicate-line removal


def test_dedup_lines_crafted(spark):
    """Hand-checkable semantics: first occurrence kept in order, later
    repeats dropped; blank lines preserved (paragraph structure is
    meaning); empty/NULL docs normalize to ''."""
    rows = [
        (0, "a\nb\na\nc\nb\nd"),
        (1, "x\n\n\nx\n\ny"),
        (2, ""),
        (3, None),
        (4, "footer\nbody\nfooter\nfooter"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["text"] for r in textstats.dedup_lines(df).collect()}
    assert got == {
        0: "a\nb\nc\nd",
        1: "x\n\n\n\ny",
        2: "",
        3: "",
        4: "footer\nbody",
    }


DEDUP_LINES_SQL = """
WITH ls AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS arr
  FROM documents
), ln AS (
  SELECT doc_id, i AS pos, arr[i] AS line
  FROM ls, LATERAL unnest(range(1, len(arr) + 1)) AS r(i)
), kept AS (
  SELECT doc_id, line,
         CASE WHEN line = '' THEN pos END AS disc,
         min(pos) AS pos
  FROM ln GROUP BY 1, 2, 3
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM kept GROUP BY 1
"""


def test_dedup_lines_matches_duckdb(spark):
    """The rewrite is value-checked STRING-FOR-STRING against a DuckDB
    replica of the same first-occurrence + blank-preserving semantics
    over the real documents table, and is partition-invariant."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["text"])
        for r in textstats.dedup_lines(docs).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(DEDUP_LINES_SQL).fetchall()))
    assert got == want
    shuffled = sorted(
        (r["doc_id"], r["text"])
        for r in textstats.dedup_lines(docs.repartition(7)).collect()
    )
    assert shuffled == got


def test_dedup_lines_plan_shape(spark):
    """The boilerplate-collapse guarantee: the first-occurrence pick is
    a PARTIAL min aggregate (a 10⁴× repeated footer collapses map-side
    before any exchange), the whole transform stays JVM-side, and the
    rebuild is the only other exchange."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        textstats.dedup_lines(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan, plan
    assert re.search(r"partial_min", plan), plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


# ------------------------------------------------------- semantic dedup


# Hand-checkable SemDeDup fixture (n_cells=2): two well-separated
# directions, exact and near duplicates inside each cluster, and a zero
# vector excluded by the norm filter.
SEMDEDUP_CRAFTED = [
    (0, [1.0, 0.0, 0.0, 0.0]),          # centroid/cell A (first-2 rule)
    (1, [0.0, 1.0, 0.0, 0.0]),          # centroid/cell B
    (2, [2.0, 0.0, 0.0, 0.0]),          # same direction as 0 → dup
    (3, [0.999, 0.0447, 0.0, 0.0]),     # cos≈0.999 vs 0 → dup
    (4, [0.0, 1.0, 0.8, 0.0]),          # cell B, cos vs 1 ≈ 0.781 → kept
    (5, [0.0, 1.0, 0.801, 0.0]),        # near-dup of 4 (cos ≈ 0.99997)
    (6, [0.0, 0.0, 0.0, 0.0]),          # zero norm → excluded
]


def test_semantic_dedup_crafted(spark):
    """SEMDEDUP_CRAFTED at threshold 0.95: the min-id keep policy, row
    by row."""
    embs = spark.createDataFrame(
        pd.DataFrame(SEMDEDUP_CRAFTED, columns=["vec_id", "embedding"])
    )
    got = {
        r["vec_id"]: (
            r["cell_id"], r["n_dup_neighbors"], r["is_dup"],
        )
        for r in similarity.semantic_dedup_stats(
            embs, n_cells=2, threshold=0.95
        ).collect()
    }
    assert 6 not in got and len(got) == 6
    assert got[0] == (0, 0, False)  # lowest id in cell A survives
    assert got[1] == (1, 0, False)
    assert got[2] == (0, 1, True)   # dup of 0
    assert got[3] == (0, 2, True)   # ≥0.95 vs both 0 and 2
    assert got[4] == (1, 0, False)  # 0.781 vs centroid → below threshold
    assert got[5] == (1, 1, True)   # near-dup of 4 only
    keep = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup_keep(
            embs, n_cells=2, threshold=0.95
        ).collect()
    }
    assert keep == {0: True, 1: True, 2: False, 3: False, 4: True, 5: False}


# The SemDeDup oracle SQL now lives in queries_docs._sql_emb_semdedup
# (it is a gate slot since round 8); the test below exercises that
# exact builder so the pytest twin and the driver gate cannot drift.



def test_semantic_dedup_matches_duckdb(spark):
    """Full-path DuckDB replica on the real embeddings table (which the
    generator seeded with near-duplicate vectors): quantization, the
    first-16 coarse codebook, argmax cell assignment with the rounded-6
    tie convention, within-cell lower-id pairwise cosine, threshold
    count — all reproduced in SQL and compared strictly."""
    import duckdb

    from ts_process_spark import queries_docs as QD
    from ts_process_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    # 0.4 ≈ the fixture's 99.9th-pct pair cosine (the emb_neardup
    # convention at 0.35): the synthetic embeddings carry correlation
    # structure, not literal copies, so the non-vacuity bar sits there
    got = sorted(
        tuple(r)
        for r in similarity.semantic_dedup_stats(
            embs, n_cells=16, threshold=0.4
        ).collect()
    )
    sql = QD._sql_emb_semdedup(0.4)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want
    assert any(r[4] for r in got)  # planted near-dups make it non-vacuous
    shuffled = sorted(
        tuple(r)
        for r in similarity.semantic_dedup_stats(
            embs.repartition(7), n_cells=16, threshold=0.4
        ).collect()
    )
    assert shuffled == got


def test_semantic_dedup_jvm_twin_matches_arrow_kernel(spark):
    """``arrow_pairwise=False`` — the JVM pair-join twin of the grouped
    Arrow kernel — gives the same rows as the default, on the real
    embeddings table and on the crafted fixture."""
    real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    crafted = spark.createDataFrame(
        pd.DataFrame(SEMDEDUP_CRAFTED, columns=["vec_id", "embedding"])
    )
    for embs, kw in (
        (real, {"n_cells": 16, "threshold": 0.4}),
        (crafted, {"n_cells": 2, "threshold": 0.95}),
    ):
        arrow = sorted(map(tuple, similarity.semantic_dedup_stats(
            embs, **kw
        ).collect()))
        jvm = sorted(map(tuple, similarity.semantic_dedup_stats(
            embs, arrow_pairwise=False, **kw
        ).collect()))
        assert jvm == arrow
        assert any(r[4] for r in arrow)  # duplicates found: not vacuous


def test_semantic_dedup_plan_shape(spark):
    """The codebook probe is broadcast (corpus never shuffles for
    assignment) and the whole pipeline stays JVM-side."""
    from ts_process_spark.operators import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        similarity.semantic_dedup_stats(embs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the n_cells probe
    assert "CartesianProduct" not in plan, plan


# ----------------------------------------------- benchmark decontamination


def test_decontaminate_crafted(spark):
    """Hand-checkable n=5 fixture: exact token-5-gram sharing flags a
    doc, whitespace reformatting still matches (tokenization is the
    shared ``tokens()``), token reorder does not, sub-n docs and NULL
    text yield zero grams, and repeated leaked grams count per
    OCCURRENCE."""
    import pandas as pd

    bench = spark.createDataFrame(
        pd.DataFrame(
            [(100, "the quick brown fox jumps over the lazy dog tonight")],
            columns=["doc_id", "text"],
        )
    )
    leak = "quick brown fox jumps over"  # tokens 2-6 of the benchmark
    rows = [
        (0, f"intro words then {leak} and trailing prose here"),
        (1, "  the \t quick\nbrown   fox jumps over a cliff"),  # reformat
        (2, "over jumps fox brown quick the dog lazy"),  # reordered
        (3, "quick brown fox"),  # < n tokens
        (4, None),
        (5, f"{leak} padding {leak} padding {leak}"),  # 3 occurrences
    ]
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_ngrams"], r["n_contaminated"],
            r["contaminated"],
        )
        for r in dedup.decontaminate_stats(corpus, bench, n=5).collect()
    }
    assert got[0] == (12, 8, 1, True)
    # doc 1: tokens = the quick brown fox jumps over a cliff (8) →
    # 4 grams; "the quick brown fox jumps" and "quick brown fox jumps
    # over" both occur in the benchmark
    assert got[1] == (8, 4, 2, True)
    assert got[2] == (8, 4, 0, False)
    assert got[3] == (3, 0, 0, False)
    assert got[4] == (0, 0, 0, False)
    # doc 5: 13 tokens → 9 grams; the leak 5-gram occurs at positions
    # 1, 7 and 13... positions 1/7/13 → only 1 and 7 fit? tokens:
    # leak(5) padding leak(5) padding leak(5) = 17 tokens, 13 grams,
    # leak at positions 1, 7, 13 — all three fit
    assert got[5] == (17, 13, 3, True)
    keep = {
        r["doc_id"]: r["keep"]
        for r in dedup.decontaminate_keep(corpus, bench, n=5).collect()
    }
    assert keep == {0: False, 1: False, 2: True, 3: True, 4: True, 5: False}
    with pytest.raises(ValueError, match="n must be positive"):
        dedup.token_ngram_hashes(corpus, n=0)


# The decontamination oracle SQL now lives in queries_docs._sql_doc_decontam
# (a gate slot since round 8); exercised directly below.



def test_decontaminate_matches_duckdb_and_prod_twin(spark):
    """md5 mode vs a DuckDB replica on the real documents table
    (benchmark = every 20th doc, which the generator seeded with
    near-duplicates — so the overlap is nonzero and earned); xxhash64
    production mode must agree exactly (no 64-bit collisions here);
    partition-invariant."""
    import duckdb

    from ts_process_spark import queries_docs as QDOCS

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    got = sorted(
        tuple(r)
        for r in dedup.decontaminate_stats(
            corpus, bench, n=8, hash_mode="md5"
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(
        map(tuple, con.execute(QDOCS._sql_doc_decontam(8)).fetchall())
    )
    assert got == want
    assert any(r[4] for r in got)  # the overlap is real, not vacuous
    prod = sorted(
        tuple(r)
        for r in dedup.decontaminate_stats(corpus, bench, n=8).collect()
    )
    assert prod == got
    shuffled = sorted(
        tuple(r)
        for r in dedup.decontaminate_stats(
            corpus.repartition(7), bench.repartition(3), n=8,
            hash_mode="md5",
        ).collect()
    )
    assert shuffled == got


def test_decontaminate_plan_shape(spark):
    """Scale posture pinned: the benchmark shingle set is BROADCAST
    (corpus grams never exchange on gram content), no Python stages, no
    cartesian joins — the every-gram probe stays a map-side hash
    lookup."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    plan = (
        dedup.decontaminate_stats(corpus, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin \[h#[^\]]*\], \[h#", plan), plan
    # the only h-keyed exchange is the BENCHMARK-side distinct (small);
    # the corpus gram stream joins broadcast-side without shuffling
    h_ex = re.findall(r"Exchange hashpartitioning\(h#", plan)
    assert len(h_ex) == 1, plan


# ------------------------------------------------------ PII detect/redact


def test_pii_flags_match_duckdb(spark):
    """with_pii_flags vs a DuckDB RE2 replica, string-for-string: match
    counts AND the redacted text must agree on hostile inputs (adjacent
    matches, version strings that look like IPs, >3-digit octet-like
    runs where Java backtracking and RE2 must converge, unicode, NULL,
    pattern-order interactions)."""
    import duckdb
    import pandas as pd

    from ts_process_spark.operators.textstats import PII_PATTERNS

    rows = [
        (0, "mail jane.doe+x@example.co.uk or call +14155551234 now"),
        (1, "server 10.0.0.1 and 192.168.255.3; fax 555-123-4567"),
        (2, "no pii here, just words"),
        (3, None),
        (4, ""),
        (5, "version 1.2.3.4 is not v1.2.3.4000 nor 1.2.3.4.5"),
        (6, "a@b.co c@d.org back-to-back a@b.co"),
        (7, "call +123456 too short, +1234567 just long enough"),
        (8, "émile@exämple.com unicode local/domain — ascii tail only"),
        (9, "ip 999.999.999.999 is syntactically matched (documented)"),
        (10, "email@host.com@10.0.0.1 then 555-555-5555x7"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["n_email"], r["n_ipv4"], r["n_phone"], r["n_pii"],
         r["redacted"], r["pii_free"])
        for r in textstats.with_pii_flags(spark.createDataFrame(pdf)).collect()
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    red = "coalesce(text, '')"
    counts = []
    for name, pat, tag in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all(coalesce(text, ''), '{pat}'))"
            f" AS BIGINT) AS n_{name}"
        )
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    want = sorted(map(tuple, con.execute(f"""
        SELECT doc_id, {', '.join(counts)}, {total} AS n_pii,
               {red} AS redacted, ({total}) = 0 AS pii_free
        FROM docs ORDER BY doc_id
    """).fetchall()))
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[0][1] == 1 and by_id[0][3] == 1  # email + phone
    assert by_id[1][2] == 2 and by_id[1][3] == 1  # two IPs + dashed phone
    assert by_id[3] == (3, 0, 0, 0, 0, "", True)  # NULL text
    assert by_id[6][1] == 3  # back-to-back emails all found
    assert "<EMAIL>" in by_id[0][5] and "<PHONE>" in by_id[0][5]


def test_pii_flags_plan_is_single_projection(spark):
    """The scrub stage must stay one scan projection: no exchange, no
    Python stage (same contract as gopher_quality_flags)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = textstats.with_pii_flags(docs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan, plan


# --------------------------------------------- centroid text classifier


def _md5_feat(word: str, n_features: int) -> int:
    import hashlib

    return int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % n_features


def test_centroid_classifier_crafted_exact(spark):
    """Two disjoint-vocabulary 'languages' + a mixed doc + an empty
    doc; an exact pure-Python replica (same int arithmetic, IEEE
    division/sqrt, same tie-break) must reproduce every prediction AND
    every max_cos BIT-FOR-BIT — the property the gate compare needs."""
    import math

    nf = 2**18
    rows = [
        (0, "alpha beta gamma alpha", "A"),
        (1, "alpha beta beta", "A"),
        (2, "uno dos tres uno", "B"),
        (3, "dos tres tres", "B"),
        (4, "alpha uno alpha beta", None),  # score-only: leans A
        (5, "   ", None),                   # zero tokens -> NULLs
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lab string")
    clf = textstats.train_centroid_classifier(
        docs.where(F.col("lab").isNotNull()), "lab",
        n_features=nf, hash_mode="md5",
    )
    assert clf["labels"] == ["A", "B"]
    got = {
        r["doc_id"]: (r["n_tokens"], r["pred_label"], r["max_cos"])
        for r in textstats.centroid_classify(docs, clf).collect()
    }

    # ---- pure-Python replica of the full path
    cents: dict[str, dict[int, int]] = {"A": {}, "B": {}}
    for _id, text, lab in rows:
        if lab is not None:
            for w in text.split():
                f = _md5_feat(w, nf)
                cents[lab][f] = cents[lab].get(f, 0) + 1
    norms = {lab: sum(c * c for c in d.values()) for lab, d in cents.items()}
    want = {}
    for _id, text, lab in rows:
        toks = text.split()
        if not toks:
            want[_id] = (0, None, None)
            continue
        x: dict[int, int] = {}
        for w in toks:
            f = _md5_feat(w, nf)
            x[f] = x.get(f, 0) + 1
        d2 = sum(v * v for v in x.values())
        best = None
        for labl in ("A", "B"):  # ASC order == tie-break order
            dot = sum(v * cents[labl].get(f, 0) for f, v in x.items())
            cos = float(dot) / (math.sqrt(float(d2)) * math.sqrt(float(norms[labl])))
            if best is None or cos > best[1]:
                best = (labl, cos)
        want[_id] = (len(toks), best[0], best[1])
    assert got == want  # tuple == compares floats exactly: bit-for-bit
    assert got[4][1] == "A" and got[5] == (0, None, None)


def test_centroid_classifier_matches_duckdb(spark):
    """Full-path DuckDB twin over the real documents table at sf0.001:
    train on even doc_ids (lang label), score EVERY doc, compare
    (doc_id, n_tokens, pred_label, max_cos) with max_cos BIT-EXACT —
    int sums then one cast-divide-sqrt expression on both engines."""
    import duckdb

    from ts_process_spark.queries_docs import _WORDS_SQL

    sf = "/root/testdata/sf0.001"
    nf = 2**18
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    clf = textstats.train_centroid_classifier(
        docs.where(F.col("doc_id") % 2 == 0), "lang",
        n_features=nf, hash_mode="md5",
    )
    out = textstats.centroid_classify(docs, clf)
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["pred_label"], r["max_cos"])
        for r in out.collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_WORDS_SQL}) AS w FROM documents
), feat AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5(w), 1, 15))::BIGINT) % {nf} AS f
  FROM tok
), c AS (
  SELECT lang, f, count(*)::BIGINT AS c
  FROM feat WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1, 2
), norms AS (
  SELECT lang, sum(c * c)::BIGINT AS n2 FROM c GROUP BY 1
), x AS (
  SELECT doc_id, f, count(*)::BIGINT AS x FROM feat GROUP BY 1, 2
), dstats AS (
  SELECT doc_id, sum(x)::BIGINT AS n_tokens, sum(x * x)::BIGINT AS d2
  FROM x GROUP BY 1
), dots AS (
  SELECT x.doc_id, c.lang, sum(x.x * c.c)::BIGINT AS dot
  FROM x JOIN c USING (f) GROUP BY 1, 2
), cosr AS (
  SELECT ds.doc_id, ds.n_tokens, n.lang,
         CAST(coalesce(dots.dot, 0) AS DOUBLE)
           / (sqrt(CAST(ds.d2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           AS cos
  FROM dstats ds CROSS JOIN norms n
  LEFT JOIN dots ON dots.doc_id = ds.doc_id AND dots.lang = n.lang
), pick AS (
  SELECT doc_id, n_tokens, lang AS pred_label, cos AS max_cos
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY cos DESC, lang ASC) AS rn
    FROM cosr
  ) WHERE rn = 1
)
SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
       p.pred_label, p.max_cos
FROM documents d LEFT JOIN pick p USING (doc_id)
ORDER BY 1
    """).fetchall()))
    assert got == want
    # non-vacuity: every label predicted at least once, scores spread
    preds = {t[2] for t in got}
    assert preds >= set(clf["labels"])


def test_centroid_classifier_plan_and_invariance(spark):
    """Plan contract: the model attach is a BROADCAST join (the model
    is <= n_features rows by construction), never sort-merge, and no
    Python stage anywhere.  Production xxhash64 mode is deterministic
    and partition-invariant."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    clf = textstats.train_centroid_classifier(
        docs.where(F.col("doc_id") % 2 == 0), "lang", n_features=2**16,
    )
    out = textstats.centroid_classify(docs, clf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan, plan

    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, textstats.centroid_classify(
        docs.repartition(7), clf
    ).collect()))
    assert a == b

    # Held-out generalization on a LEARNABLE label.  The fixture's
    # `lang` column is decorative (all langs share one vocabulary with
    # near-identical frequency profiles — measured: 21.6% held-out at
    # 20% chance), so it cannot carry an accuracy floor.  Instead:
    # label = doc_id % 3, with three class-marker tokens appended to
    # the real text (real tokens stay as background noise), train on
    # even ids, demand the odd ids classify almost perfectly.
    marked = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.element_at(
                F.array(
                    F.lit("zzq alpha7 kram zzq"),
                    F.lit("vex bolt9 nuro vex"),
                    F.lit("quip fen3 marl quip"),
                ),
                (F.col("doc_id") % 3).cast("int") + 1,
            ),
        ).alias("text"),
        F.concat(F.lit("c"), (F.col("doc_id") % 3)).alias("lab"),
    )
    clf2 = textstats.train_centroid_classifier(
        marked.where(F.col("doc_id") % 2 == 0), "lab", n_features=2**16
    )
    held = textstats.centroid_classify(
        marked.where(F.col("doc_id") % 2 == 1), clf2
    ).join(marked.select("doc_id", "lab"), "doc_id")
    n, hits = 0, 0
    for r in held.collect():
        n += 1
        hits += r["pred_label"] == r["lab"]
    assert n > 200 and hits / n > 0.9, (hits, n)


def test_centroid_classifier_rejects_bad_input(spark):
    docs = spark.createDataFrame(
        [(0, "x", None)], "doc_id long, text string, lab string"
    )
    with pytest.raises(ValueError, match="no non-null labels"):
        textstats.train_centroid_classifier(docs, "lab")
    docs2 = spark.createDataFrame(
        [(0, "x y", "A"), (1, "   ", "B")],
        "doc_id long, text string, lab string",
    )
    with pytest.raises(ValueError, match="empty centroids"):
        textstats.train_centroid_classifier(docs2, "lab", n_features=64)
    with pytest.raises(ValueError, match="hash_mode"):
        textstats.hashed_count_features(docs2, 64, ["doc_id"], "crc")


# ------------------------------------------------------- image resize


def test_resize_kernels_exact():
    """Kernel contracts: nearest uses the floor index map (checked
    against a literal replica), box is sum//k^2 per k x k block, and
    both are pure integer — byte-identical on repeat."""
    import numpy as np

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (9, 12, 3), dtype=np.uint8)
    out = multimodal.resize_nearest(img, 4, 5)
    assert out.shape == (4, 5, 3)
    for r in range(4):
        for c in range(5):
            assert (out[r, c] == img[r * 9 // 4, c * 12 // 5]).all()
    box = multimodal.resize_box(img, 3)
    assert box.shape == (3, 4, 3)
    blk = img[:3, :3].astype(int)
    assert (box[0, 0] == blk.sum(axis=(0, 1)) // 9).all()
    with pytest.raises(ValueError, match="multiple"):
        multimodal.resize_box(img, 5)
    with pytest.raises(ValueError, match="invalid target"):
        multimodal.resize_nearest(img, 0, 5)


def _resize_fixture(spark, n=40, w=12, h=9):
    """BMP payloads whose pixel (r, c, ch) = (mid*7 + r*11 + c*13 +
    ch*5) % 256 — SQL-replicable through any exact-integer resize."""
    import numpy as np

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                r, c, ch = np.ogrid[:h, :w, :3]
                img = ((mid * 7 + r * 11 + c * 13 + ch * 5) % 256).astype(
                    np.uint8
                )
                b = multimodal.encode_bmp(img)
                rows.append(
                    (mid, "image", b,
                     {"width": w, "height": h, "sample_rate": None,
                      "n_bytes": len(b)})
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").alias("media_id"))
        .where(F.col("media_id") < n)
        .mapInPandas(gen, schema=multimodal.MEDIA_SCHEMA)
    )


def test_resize_images_matches_duckdb(spark):
    """Full decode->resize->encode path value-checked: decoded_stats
    over the RESIZED table vs a DuckDB oracle that recomputes every
    output pixel from the generation parameters and the documented
    floor index map (nearest) / sum//k^2 (box).  A one-pixel index
    convention drift on either side breaks the compare."""
    import duckdb

    media = _resize_fixture(spark)
    got_n = sorted(
        (r["media_id"], r["n_vals"], r["v_sum"], r["v_sumsq"])
        for r in multimodal.decoded_stats(
            multimodal.resize_images(media, out_w=5, out_h=4)
        ).collect()
    )
    got_b = sorted(
        (r["media_id"], r["n_vals"], r["v_sum"], r["v_sumsq"])
        for r in multimodal.decoded_stats(
            multimodal.resize_images(media, factor=3)
        ).collect()
    )
    con = duckdb.connect()
    want_n = sorted(map(tuple, con.execute("""
WITH px AS (
  SELECT m AS media_id,
         (m*7 + (r*9//4)*11 + (c*12//5)*13 + ch*5) % 256 AS v
  FROM range(0, 40) t(m), range(0, 4) tr(r), range(0, 5) tc(c),
       range(0, 3) tch(ch)
)
SELECT media_id, count(*) AS n_vals, sum(v)::BIGINT AS v_sum,
       sum(v*v)::BIGINT AS v_sumsq
FROM px GROUP BY 1 ORDER BY 1
    """).fetchall()))
    want_b = sorted(map(tuple, con.execute("""
WITH blk AS (
  SELECT m, r, c, ch,
         sum((m*7 + (r*3+dr)*11 + (c*3+dc)*13 + ch*5) % 256) // 9 AS v
  FROM range(0, 40) t(m), range(0, 3) tr(r), range(0, 4) tc(c),
       range(0, 3) tch(ch), range(0, 3) tdr(dr), range(0, 3) tdc(dc)
  GROUP BY 1, 2, 3, 4
)
SELECT m AS media_id, count(*) AS n_vals, sum(v)::BIGINT AS v_sum,
       sum(v*v)::BIGINT AS v_sumsq
FROM blk GROUP BY 1 ORDER BY 1
    """).fetchall()))
    assert got_n == want_n and len(got_n) == 40
    assert got_b == want_b
    with pytest.raises(ValueError, match="exactly one"):
        multimodal.resize_images(media, out_w=5)
    with pytest.raises(ValueError, match="exactly one"):
        multimodal.resize_images(media, out_w=5, out_h=4, factor=2)


def test_resize_bilinear_exact():
    """Rational-bilinear contract: literal integer replica of the
    align-corners formula, degenerate out-dim-1 limit, and the exact
    identity resize (out == src reproduces the source bit-for-bit —
    a float-weights implementation typically fails this)."""
    import numpy as np

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (9, 12, 3), dtype=np.uint8)
    out = multimodal.resize_bilinear(img, 4, 5)
    assert out.shape == (4, 5, 3)
    dr, dc = 3, 4
    for r in range(4):
        for c in range(5):
            fr, ar = divmod(r * 8, dr)
            fc, ac = divmod(c * 11, dc)
            r1, c1 = min(fr + 1, 8), min(fc + 1, 11)
            for ch in range(3):
                v = (
                    int(img[fr, fc, ch]) * (dr - ar) * (dc - ac)
                    + int(img[fr, c1, ch]) * (dr - ar) * ac
                    + int(img[r1, fc, ch]) * ar * (dc - ac)
                    + int(img[r1, c1, ch]) * ar * ac
                ) // (dr * dc)
                assert out[r, c, ch] == v, (r, c, ch)
    assert np.array_equal(multimodal.resize_bilinear(img, 9, 12), img)
    assert np.array_equal(
        multimodal.resize_bilinear(img, 1, 1)[0, 0], img[0, 0]
    )


def test_resize_images_bilinear_matches_duckdb(spark):
    """Full decode->bilinear-resize->encode path vs a DuckDB oracle
    computing the same rational formula from generation parameters."""
    import duckdb

    media = _resize_fixture(spark)
    got = sorted(
        (r["media_id"], r["n_vals"], r["v_sum"], r["v_sumsq"])
        for r in multimodal.decoded_stats(
            multimodal.resize_images(media, out_w=5, out_h=4,
                                     method="bilinear")
        ).collect()
    )
    con = duckdb.connect()
    want = sorted(map(tuple, con.execute("""
WITH px AS (
  SELECT m,
         ((m*7 + (r*8//3)*11     + (c*11//4)*13     + ch*5) % 256)
           * (3 - r*8%3) * (4 - c*11%4)
         + ((m*7 + (r*8//3)*11   + least(c*11//4+1, 11)*13 + ch*5) % 256)
           * (3 - r*8%3) * (c*11%4)
         + ((m*7 + least(r*8//3+1, 8)*11 + (c*11//4)*13    + ch*5) % 256)
           * (r*8%3) * (4 - c*11%4)
         + ((m*7 + least(r*8//3+1, 8)*11 + least(c*11//4+1, 11)*13 + ch*5) % 256)
           * (r*8%3) * (c*11%4) AS num
  FROM range(0, 40) t(m), range(0, 4) tr(r), range(0, 5) tc(c),
       range(0, 3) tch(ch)
), v AS (SELECT m, num // 12 AS v FROM px)
SELECT m AS media_id, count(*) AS n_vals, sum(v)::BIGINT AS v_sum,
       sum(v*v)::BIGINT AS v_sumsq
FROM v GROUP BY 1 ORDER BY 1
    """).fetchall()))
    assert got == want and len(got) == 40
    with pytest.raises(ValueError, match="unknown method"):
        multimodal.resize_images(media, out_w=5, out_h=4, method="area")
