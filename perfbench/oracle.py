#!/usr/bin/env python3
"""Result check against the DuckDB oracle.

A result matches when it equals the oracle's under the exact comparison
of tools/compare_oracle.py: columns sorted by name, every cell as its
Python repr, rows sorted, then compared whole. The oracle side never
changes for a fixed table set, so it is computed once and stored as a
digest of that canonical frame (expected/<data>.json); a run digests the
engine's result the same way.

    python3 perfbench/oracle.py <data name>   # refresh expected/<data>.json

Refreshing runs the SparkEntry oracle SQL for every benchmark query in
DuckDB over perfbench/data/<data name>; it needs a built harness.
"""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(df):
    """(rows, sha256) of a frame in compare_oracle.py's canonical form."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: repr(v))
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    h = hashlib.sha256(json.dumps(list(out.columns)).encode())
    for row in out.itertuples(index=False):
        h.update(json.dumps(list(row)).encode())
    return len(out), h.hexdigest()


def check(dump_dir, expected, queries):
    """Failures, as {query: reason}, of the dumped results of `queries`."""
    import pandas as pd
    fails = {}
    for q in queries:
        path = os.path.join(dump_dir, q)
        if q not in expected:
            fails[q] = "no expected result"
        elif not os.path.isdir(path):
            fails[q] = "no result written"
        else:
            rows, sha = digest(pd.read_parquet(path))
            want = expected[q]
            if rows != want["rows"]:
                fails[q] = "rows %d != %d" % (rows, want["rows"])
            elif sha != want["sha256"]:
                fails[q] = "value mismatch"
    return fails


def expected_for(data_dir, oracle_sql):
    """Expected {query: {rows, sha256}} from the oracle SQL, in DuckDB."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data_dir, t))
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        rows, sha = digest(con.sql(sql).df())
        out[q] = {"rows": rows, "sha256": sha}
    return out


def main(data):
    import subprocess
    import tempfile
    sys.path.insert(0, HERE)
    import run
    run.prepare()
    queries = sorted({q for w in run.WORKLOADS.values() for q in w["queries"]})
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(run.java_args() + ["--passes", "U:" + ",".join(queries),
                                          "--oracle", sql_file],
                       check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        oracle_sql = json.load(open(sql_file))
    missing = sorted(set(queries) - set(oracle_sql))
    if missing:
        sys.exit("no oracle SQL for " + ", ".join(missing))
    out = expected_for(os.path.join(HERE, "data", data), oracle_sql)
    with open(os.path.join(HERE, "expected", data + ".json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote expected/%s.json: %d queries" % (data, len(out)))


if __name__ == "__main__":
    main(sys.argv[1])
