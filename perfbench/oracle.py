"""Correctness gate: compare a final state written by the program with the
DuckDB oracle's expected state (built by ``gen_inputs.build``).

The comparison is a multiset difference in both directions over the
workload's state columns, so a dropped, duplicated or altered row is
caught. Run as a script it prints one JSON object and exits 0 on a match,
1 on a mismatch:

``python3 perfbench/oracle.py <expected.parquet> <state_dir> <col,col,...>``
"""

from __future__ import annotations

import json
import sys

#: Columns of each workload's final state, as the program's state and the
#: oracle both name them.
STATE_COLUMNS = {
    "wire_backfill": [
        "customer_id", "order_id", "op", "kind", "product", "ts_ms", "partition", "offset",
    ],
    "upsert_trickle": ["customer_id", "order_id", "totalprice", "orderstatus"],
}


def compare(expected_path: str, state_dir: str, columns: list[str]) -> dict:
    """Rows missing from the state and rows the state has in excess."""
    import duckdb

    cols = ", ".join(f'"{c}"' for c in columns)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(f"CREATE VIEW exp AS SELECT {cols} FROM read_parquet('{expected_path}')")
        con.execute(f"CREATE VIEW got AS SELECT {cols} FROM read_parquet('{state_dir}/*.parquet')")
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got)"
        ).fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)"
        ).fetchone()[0]
        rows = con.execute("SELECT count(*) FROM got").fetchone()[0]
    finally:
        con.close()
    return {"match": missing == 0 and extra == 0, "missing": missing, "extra": extra, "rows": rows}


if __name__ == "__main__":
    result = compare(sys.argv[1], sys.argv[2], sys.argv[3].split(","))
    print(json.dumps(result))
    sys.exit(0 if result["match"] else 1)
