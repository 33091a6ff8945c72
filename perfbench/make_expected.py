#!/usr/bin/env python3
"""Write perfbench/expected_queries.json: the reference hash of each
sampled query's output, in checks.py's canonical form.

    python3 perfbench/make_expected.py <oracle_sql.json> <run dir>

<oracle_sql.json> is what graft.Verify writes (SparkEntry.oracleSql);
<run dir> is one `queries` run kept by run.py (PERFBENCH_KEEP=1 keeps it
under .bench_work/): its record.json names the sampled queries and its
dumps/ holds their outputs. A query with an oracle gets the hash of
DuckDB's answer over perfbench/data; the four without one get the hash
of the run's dump, which must come from the seed commit. Every dump is
also compared with its oracle hash and any difference is reported.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(oracle_path, run_dir):
    oracles = json.load(open(oracle_path))
    names = sorted(op["name"] for op in json.load(open(f"{run_dir}/record.json"))["ops"])
    dumps = os.path.join(run_dir, "dumps")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{HERE}/data/{t}.parquet'")
    out, bad = {}, 0
    for name in names:
        dump = os.path.join(dumps, name)
        got = checks.dump_hash(dump) if os.path.isdir(dump) else None
        if name in oracles:
            want = checks.frame_hash(con.execute(oracles[name]).df())
            out[name] = {"hash": want, "source": "duckdb oracle"}
            if got is not None and got != want:
                bad += 1
                print(f"MISMATCH {name}: spark {got} duckdb {want}")
        elif got is not None:
            out[name] = {"hash": got, "source": "seed commit output"}
        else:
            print(f"NO REFERENCE {name}: no oracle and no dump")
    with open(os.path.join(HERE, "expected_queries.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} hashes written, {bad} spark/oracle mismatches")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
