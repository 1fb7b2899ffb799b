#!/usr/bin/env python3
"""Record the batch-pipeline's expected digests, once, after the DuckDB oracle
agrees with the engine.

usage: validate.py <data_dir> <dump_dir> <digests_txt> <expected_out>

<dump_dir> holds what `graft.perfbench.Main --workload validate-batch` wrote:
one parquet result per query plus oracle_sql.json; <digests_txt> is that
run's stdout (its `DIGEST <query> <digest> <ms>` lines). The engine results
are compared against the oracle SQL by the repository's unmodified
tools/check_oracle.py over the 10x replica; only queries it reports OK are
written to <expected_out>.
"""
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    data, dump, digests, expected = sys.argv[1:5]
    # check_oracle.py reads <dir>/<table>.parquet files: the replica's
    # documents/embeddings as single files, the tables no batch query reads
    # as one-column placeholders
    vdir = os.path.join(dump, "oracle-input")
    os.makedirs(vdir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(data, "x10", f"{t}.parquet")
        table = pq.read_table(src) if t in ("documents", "embeddings") else pa.table({"unused": [0]})
        pq.write_table(table, os.path.join(vdir, f"{t}.parquet"))
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), vdir, dump],
                         capture_output=True, text=True)
    print(res.stdout)
    ok = {line.split()[1] for line in res.stdout.splitlines() if line.startswith("OK ")}
    lines = [line.split()[1:3] for line in open(digests) if line.startswith("DIGEST ")]
    with open(expected, "w") as fh:
        fh.write("# query  rows:sha256-prefix — engine results over the 10x replica that\n"
                 "# tools/check_oracle.py matched against the DuckDB oracle\n")
        for q, d in lines:
            if q in ok:
                fh.write(f"{q} {d}\n")
    print(f"recorded {sum(q in ok for q, _ in lines)} of {len(lines)} digests in {expected}")


if __name__ == "__main__":
    main()
