"""Pin each leaf's row count and canonical hash (leaves_pinned.json).

    python3 perfbench/pin_leaves.py

Run from the repository root, once, on a commit whose leaves are known
good.  It runs every leaf twice on the inputs in ``leaf_inputs/`` (the
two results must agree), cross-checks each registry leaf against its
DuckDB oracle SQL with tools/check_oracles.py's comparison, and writes
the pins.  The traced run of ``backfill_serve`` fails a leaf whose
output no longer matches its pin.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench

sys.path.insert(1, bench.ROOT)
sys.path.insert(2, os.path.join(bench.ROOT, "tools"))


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from check_oracles import df_multiset
    from leaves import INPUTS, LEAVES, REGISTRY_LEAVES, leaf_digest, leaf_factories
    from ts_process_spark.session import get_spark

    cores = os.cpu_count() or 1
    work = os.path.join(bench.ROOT, ".perfbench_work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = bench.configure_env(work, cores)
    spark = get_spark("perfbench-pin", cores=cores, shuffle_partitions=cores, extra_conf=extra_conf)
    con = duckdb.connect()
    for t in ("events", "orders", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{INPUTS}/{t}.parquet'")
    oracles = entry.oracle_sql()
    factories = leaf_factories(spark)
    pins, bad = {}, []
    try:
        for name in LEAVES:
            first = leaf_digest(factories[name]())
            second = leaf_digest(factories[name]())
            if first != second:
                bad.append(f"{name}: two runs disagree")
            duck = "not a registry leaf"
            if name in REGISTRY_LEAVES and oracles.get(name):
                df = factories[name]()
                rel = con.sql(oracles[name])
                same = df_multiset(df.columns, [tuple(r) for r in df.collect()]) == df_multiset(
                    rel.columns, rel.fetchall()
                )
                duck = "match" if same else "MISMATCH"
                if not same:
                    bad.append(f"{name}: DuckDB oracle mismatch")
            pins[name] = {"rows": first[0], "hash": first[1], "duckdb": duck}
            print(f"{name:26s} {first[0]:8d} rows  {first[1]:21d}  duckdb: {duck}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("not pinned:", "; ".join(bad))
        return 1
    with open(os.path.join(bench.HERE, "leaves_pinned.json"), "w") as f:
        json.dump({"leaves": pins}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
