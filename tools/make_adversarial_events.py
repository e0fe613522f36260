"""Build an adversarial events fixture for oracle-pair stress runs.

The driver gate runs at sf0.01, whose events table never exercises the
hostile corners — this generator does: per-user counts exactly on every
query's filter boundary (8/16/28 and below), duplicate timestamps
(order-tie resolution), NULL ts (gap-fill + NULLS FIRST ordering), NULL
props (text coalescing), ±0.0 and ±999.99 values (sign-of-zero through
round(), exactness-budget edges), constant and all-zero series (Gorilla
XOR zero runs, degenerate fits), and wide time spreads (multi-bucket
tiers).  Non-events tables are symlinked from sf0.001.

Usage:
    python tools/make_adversarial_events.py [out_dir=/root/testdata_adv]
    python tools/check_oracles.py /root/testdata_adv [query ...]

Also writes an adversarial documents.parquet: non-ASCII (CJK, emoji,
ZWJ sequences, combining marks), NULL/empty/whitespace-only text,
vertical-tab whitespace (the Java-\\s vs RE2 trap), exact and
near duplicates, and heavy repetition.

Round-3 findings it caught: -0.0 surviving DuckDB round() but not
Spark's in gapfill_linear / taper_tukey / rotmax_scan (+0.0 fix both
engines); DuckDB array_to_string([]) = NULL poisoning exact-dedup keys
and short-doc shingles (coalesce fix); media_from_documents crashing on
NULL text (engine coalesce); zero-norm embeddings crashing every cosine
op with ANSI DIVIDE_BY_ZERO (cosine_base guard both engines); round()
on the centroid mean diverging at a representation boundary (integer
surrogates); every signal fold oracle passed bit-exactly and the
multimodal byte oracle holds on non-ASCII payloads.
"""

from __future__ import annotations

import os
import sys

import numpy as np  # noqa: F401  (kept for fixture tweaks)
import pandas as pd


def main() -> None:
    d = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_adv"
    os.makedirs(d, exist_ok=True)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"]:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", dst)

    rows: list[tuple] = []
    T0 = pd.Timestamp("2024-03-01 00:00:00")
    eid = 0

    def add(user, n, *, dup_ts=False, null_ts_every=None, null_props_every=None,
            vals=None, etype="click", step_s=7):
        nonlocal eid
        for k in range(n):
            ts = T0 + pd.Timedelta(seconds=(k // (2 if dup_ts else 1)) * step_s)
            if null_ts_every and k % null_ts_every == 3:
                ts = pd.NaT
            v = vals[k % len(vals)] if vals else round(((k * 37) % 1999) - 999 + 0.25, 2)
            props = None if (null_props_every and k % null_props_every == 1) \
                else f'{{"k": "{k}"}}'
            rows.append((eid, ts, user, etype, float(v), props))
            eid += 1

    add(1000, 8, etype="error")            # spline/baseline boundary
    add(1001, 16, etype="purchase")        # process_dt boundary (padlen == n-1)
    add(1002, 28, etype="signup")          # ellip boundary
    add(1003, 7, etype="view")             # below every threshold
    add(1004, 80, dup_ts=True, null_ts_every=11, null_props_every=7,
        vals=[0.0, -0.0, 0.01, -999.99, 999.99, 0.0, 123.45], etype="click")
    add(1005, 64, vals=[1.0], etype="error")       # constant series
    add(1006, 64, vals=[0.0], etype="purchase")    # all-zero series
    add(1007, 40, null_ts_every=5, etype="signup")  # many gap-fills
    add(1008, 33, etype="view", step_s=4000)        # multi-bucket spread
    # FAS per-series FFT-size boundaries (get_points: np = 2^bit_length):
    # n = 31/32/33 straddle np 32→64 and n = 63/64 straddle 64→128 —
    # every CASE arm and stage-skip path of the staged butterfly oracle
    add(1009, 31, etype="click")
    add(1010, 32, etype="click")
    add(1011, 33, etype="click")
    add(1012, 63, etype="view")
    # (1005/1006 already pin n = 64 with constant/zero series)
    # users that EXIST in the symlinked orders/customer tables, so the
    # join-shaped asof_join query exercises the hostile ts patterns too
    # instead of matching nothing
    add(7, 24, dup_ts=True, etype="click")
    add(13, 16, null_ts_every=7, etype="purchase")

    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(f"{d}/events.parquet", index=False)

    texts = [
        (0, "the the the the the the", "en"),
        (1, "日本語のテキスト 漢字 かな カナ 🎌 emoji テスト", "ja"),
        (2, "café naïve söup — em–dash … ellipsis ü", "de"),
        (3, "", "en"),
        (4, None, "en"),
        (5, "   \t\n  ", "en"),
        (6, "mixed ASCII und 中文 and русский текст all in one", "und"),
        (7, "a\x0bb vertical\x0btab separated", "en"),
        (8, "dup dup candidate exact text here", "en"),
        (9, "dup dup candidate exact text here", "en"),
        (10, "the quick brown fox jumps over the lazy dog " * 20, "en"),
        (11, "the quick brown fox jumps over the lazy dog " * 20 + "tail", "en"),
        (12, "z̷̢̛a̶͕͝l̸̰̈g̸̱̎o̷͙͑ combining characters ā́̃", "und"),
        (13, "👨‍👩‍👧‍👦 family emoji zwj sequence 🏳️‍🌈", "und"),
        (14, "ASCII only but with  double  spaces and trailing ", "en"),
    ]
    # ---- round-6 additions (VERDICT r5 #8): exact rule/cap boundaries
    # gopher_quality_flags boundary docs — each lands EXACTLY on a rule
    # threshold, so any cross-engine drift in the ratio comparisons
    # flips a flag and the gate catches it
    texts += [
        # exactly min_tokens=50 tokens, all 3-char (mean_wl == 3.0
        # lower bound), exactly min_stopword_hits=2
        (15, "the the " + " ".join(f"w{i:02d}" for i in range(48)), "en"),
        # one token below the min_tokens boundary
        (16, "the the " + " ".join(f"w{i:02d}" for i in range(47)), "en"),
        # mean word length exactly at the 10.0 upper bound, 0 stopwords
        (17, " ".join("abcdefghij" for _ in range(50)), "en"),
        # symbol ratio exactly 0.1 (2 '#' tokens / 20 tokens) with an
        # '…' and a '...' elsewhere IN tokens (3+1 more symbols would
        # break the boundary, so they live in a separate doc)
        (18, "# # " + " ".join(f"s{i}" for i in range(18)), "en"),
        # symbol ratio over the bound: '#' (1) + '…' (1) + one '...'
        # run (3) = 5 symbols / 20 tokens = 0.25, mixing all three
        # symbol kinds incl. the 3-chars-per-'...' split-count path
        (19, "# … wait... " + " ".join(f"t{i}" for i in range(17)), "en"),
        # line-rule boundaries in ONE doc: 10 non-empty lines (blank
        # lines interspersed must be ignored), exactly 9 bulleted
        # (0.9 == max_bullet_frac), exactly 3 ellipsis-terminated
        # (0.3 == max_ellipsis_frac), exactly 3 duplicate lines
        # (dup frac 0.3 == max_dup_line_frac)
        (20, "\n\n".join(
            ["- alpha beta ...", "- gamma delta …", "• epsilon zeta ...  ",
             "- eta theta", "- iota kappa", "- lam mu", "- lam mu",
             "- eta theta", "- iota kappa", "plain closing line"]
        ), "en"),
        # alpha-word fraction exactly 0.8: 8 lettered / 10 tokens
        (21, "ab cd ef gh ij kl mn op 12 34", "en"),
        # pack_documents at/near-budget token counts (gate
        # budget_tokens=512): exactly at, one under, one over — the
        # EXACT bin-edge landings are engineered separately below,
        # since md5 sharding decides which shard these land in
        (22, " ".join(f"p{i}" for i in range(512)), "en"),
        (23, " ".join(f"q{i}" for i in range(511)), "en"),
        (24, " ".join(f"r{i}" for i in range(513)), "en"),
        (25, " ".join(f"u{i}" for i in range(256)), "en"),
        (26, " ".join(f"v{i}" for i in range(256)), "en"),
        # exact word-set Jaccard 0.9 pair (9 shared / 10 union) on the
        # ≥ 0.9 gate threshold, same lang block
        (27, " ".join(f"jj{i}" for i in range(10)), "en"),
        (28, " ".join(f"jj{i}" for i in range(9)), "en"),
    ]
    # hot LSH bucket: 30 identical docs share EVERY band bucket →
    # 435-pair clique through minhash/simhash/exact dedup, the
    # connected-components keep list, and the (under-cap) hot-bucket
    # expansion path end-to-end through the gate queries
    texts += [
        (30 + i, "hot bucket boilerplate template cluster sentence "
                 "repeated verbatim across the corpus", "en")
        for i in range(30)
    ]

    # EXACT pack_documents bin edges under the gate config (review r6:
    # the at-budget docs above land in md5 shards where no running sum
    # reaches a nonzero multiple of the budget).  Self-adjusting: pick
    # one md5 shard, sum the tokens already packed before our ids, pad
    # the cumsum to the next bin edge, then place a doc that starts
    # EXACTLY on an edge and fills its bin EXACTLY, a straddler that
    # starts exactly on the next edge, and a 1-token probe after it.
    import hashlib
    import re as _re

    budget, n_shards = 512, 8

    def _shard(doc_id):
        return int(
            hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16
        ) % n_shards

    def _ntok(t):
        if t is None:
            return 0
        return len([w for w in _re.split("[ \t\n\x0b\f\r]+", t) if w])

    target = _shard(101)  # any shard; anchored to the first new id
    new_ids = [i for i in range(101, 400) if _shard(i) == target][:4]
    assert len(new_ids) == 4 and all(i > max(t[0] for t in texts)
                                     for i in new_ids)
    cum = sum(_ntok(t) for i, t, _ in texts if _shard(i) == target)
    pad = (-cum) % budget
    if pad == 0:
        pad = budget  # keep the filler non-empty, edge stays exact
    texts += [
        (new_ids[0], " ".join(f"fill{k}" for k in range(pad)), "en"),
        (new_ids[1], " ".join(f"ex{k}" for k in range(budget)), "en"),
        (new_ids[2], " ".join(f"ov{k}" for k in range(budget + 1)), "en"),
        (new_ids[3], "tailprobe", "en"),
    ]
    # the engineered geometry, verified at generation time so future
    # fixture edits cannot silently rot it: new_ids[1] starts on a
    # nonzero bin edge and fills its bin exactly; new_ids[2] starts on
    # the next edge and straddles by one token
    start = cum + pad
    assert start % budget == 0 and start > 0
    assert (start + budget) % budget == 0
    docs = pd.DataFrame(
        [(i, t, lg, f"src{i % 3}", len(t) if t is not None else 0)
         for i, t, lg in texts],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.to_parquet(f"{d}/documents.parquet", index=False)

    rng = np.random.default_rng(3)
    evec = []

    def vec(v):
        return np.asarray(v, dtype=np.float32).tolist()

    b = rng.normal(size=64)
    evec.append((0, vec(np.zeros(64)), 0))            # zero vector (no direction)
    evec.append((1, vec(b), 1))
    evec.append((2, vec(b), 1))                        # exact duplicate
    evec.append((3, vec(b + rng.normal(scale=1e-3, size=64)), 1))  # near-dup
    evec.append((4, vec(-b), 2))                       # antipode (cosine −1)
    evec.append((5, vec(np.full(64, 1e-30)), 3))       # quantizes to zero norm
    evec.append((6, vec(np.full(64, 8.0)), 4))         # quantized-domain ceiling
    for i in range(7, 40):
        evec.append((i, vec(rng.normal(size=64)), i % 5))
    pd.DataFrame(
        evec, columns=["vec_id", "embedding", "label"]
    ).to_parquet(f"{d}/embeddings.parquet", index=False)

    print(f"{len(pdf)} adversarial events + {len(docs)} docs + {len(evec)} vecs → {d}")


if __name__ == "__main__":
    main()
