"""Records oracle/digests.json: for each batch table seed, the digest of
every battery row's expected output, computed by DuckDB from the oracle
SQL in oracle/ over the generated tables. Run from the repository root:

    python3 perfbench/harness/record_digests.py
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import run  # noqa: E402
from harness import stats  # noqa: E402


def main():
    out = {}
    for seed in range(run.BATCH_TABLE_SEEDS):
        d = run.tables(seed, run.BATCH_SCALE)
        con = duckdb.connect()
        for t in ("orders", "lineitem", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        out[str(seed)] = {}
        for row in run.BATCH_ROWS:
            with open(os.path.join(HERE, "oracle", row + ".sql")) as f:
                rel = con.sql(f.read())
            out[str(seed)][row] = stats.digest(list(rel.columns), rel.fetchall())
            print(seed, row, out[str(seed)][row], flush=True)
    with open(os.path.join(HERE, "oracle", "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
