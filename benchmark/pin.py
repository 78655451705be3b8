#!/usr/bin/env python3
"""Pin the result fingerprints the benchmark checks against.

    python3 benchmark/pin.py

Runs every browse gate of the benchmark once on the engine (graft.bench.Main
pin) and fingerprints its result. Where the gate has oracle SQL
(SparkEntry.oracleSql), the same fingerprint is computed from DuckDB running
that SQL over the same parquet tables, and the two must agree before a value
is pinned; on any disagreement nothing is written. Gates without oracle SQL
would be pinned from the engine alone. Run from the root of a checkout.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import harness  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def oracle_fingerprint(sf_dir, sql):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return harness.fingerprint(names, cur.fetchall())


def main():
    root = os.getcwd()
    pinned_path = os.path.join(HERE, "fingerprints.json")
    work = os.path.join(root, ".bench_build", "work", "pin-%d" % os.getpid())
    os.makedirs(work)
    try:
        engine = run.launch(run.build(root), ["pin", run.DATA_ROOT, work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    pinned = {}
    bad = 0
    for gate in sorted(engine):
        e = engine[gate]
        status = "no oracle SQL"
        if e["oracle_sql"]:
            n, h, cols = oracle_fingerprint(os.path.join(run.DATA_ROOT, e["sf"]), e["oracle_sql"])
            agree = (n, h) == (e["rows"], e["hash"])
            status = "matches DuckDB" if agree else "DuckDB rows=%d hash=%s columns=%s" % (n, h, cols)
            bad += 0 if agree else 1
        pinned[gate] = {"workload": e["workload"], "sf": e["sf"], "rows": e["rows"], "hash": e["hash"],
                        "oracle": bool(e["oracle_sql"])}
        print("%-30s rows=%-7d hash=%s %s" % (gate, e["rows"], e["hash"], status))
    if bad:
        print("%d disagreement(s); nothing written" % bad)
        sys.exit(1)
    with open(pinned_path, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote %s" % os.path.relpath(pinned_path))


if __name__ == "__main__":
    main()
