"""Seeded input generators for the CDC pipeline benchmark (DuckDB only).

Everything the program under test receives is built here from ``--seed``:

* an ``orders`` table shaped like the repo's sf0.1 fixture (same six
  columns and types), with a seeded key shift and a seeded row
  permutation;
* for ``wire_backfill``, a topic of Kafka frames in the six-field
  ``RECORD_SCHEMA`` shape with Debezium ``{schema,payload}`` JSON key and
  value, spread over 4 partitions, with Zipf-skewed updates, deletes and
  late delivery (arrival order != offset order).

Row content comes from ``hash(seed, ...)``, never from ``random()``, so a
seed yields the same rows however many threads DuckDB uses. Row and event
counts do not depend on the seed, which keeps the work per run fixed.

The generated orders are synthetic rather than copied from the fixture
tables: the benchmark reads nothing outside its own checkout.

Run as a script to build one workload's inputs and print the manifest:
``python3 perfbench/gen_inputs.py <work_dir> <workload> <seed> [tiny]``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

#: Base table size: the sf0.1 fixture's orders row count.
BASE_ORDERS = 150_000
BASE_CUSTOMERS = 10_000
#: Topic partitions of the wire workload, and its segment count per
#: partition (the unit of late delivery).
PARTITIONS = 4
SEGMENTS = 8

#: Per-workload shapes at the two scales. ``base`` = orders rows;
#: ``n_files`` = micro-batches the changelog is staged into; for the wire
#: topic, ``zipf_c`` is the hottest key's update count.
SHAPES = {
    "full": {
        "wire_backfill": {"base": BASE_ORDERS // 2, "zipf_c": 10_000},
        "upsert_trickle": {"base": 15_000, "n_files": 8},
    },
    "tiny": {
        "wire_backfill": {"base": 1_500, "zipf_c": 100},
        "upsert_trickle": {"base": 1_500, "n_files": 3},
    },
}

WORKLOADS = tuple(SHAPES["full"])


def key_shift(seed: int) -> int:
    """Seeded offset of the whole order-key range: a multiple of 100, so the
    changelog's update (``% 10``) and delete (``% 100``) classes keep their
    sizes, and small enough that keys stay 32-bit for the wire key schema."""
    return (seed % 997) * 100


def order_keys(seed: int, shape: dict, n: int) -> list[int]:
    """``n`` seeded order keys that exist in the workload's ``orders``."""
    import random

    rng = random.Random(seed)
    return [rng.randrange(shape["base"]) + key_shift(seed) for _ in range(n)]


def _orders_sql(seed: int, base: int) -> str:
    """Seeded ``orders``: ``base`` rows, keys shifted by :func:`key_shift`,
    ordered by a seeded hash, so each seed hands the changelog stager a
    different physical row order."""
    shift = key_shift(seed)
    n_cust = max(1, BASE_CUSTOMERS * base // BASE_ORDERS)
    return f"""
WITH b AS (
  SELECT i,
    hash({seed}, 'cust', i) AS hc, hash({seed}, 'price', i) AS hp,
    hash({seed}, 'date', i) AS hd, hash({seed}, 'stat', i) AS hs
  FROM range({base}) t(i))
SELECT
  i + {shift} AS o_orderkey,
  CAST(hc % {n_cust} AS BIGINT) AS o_custkey,
  ['F', 'O', 'P'][1 + CAST(hs % 3 AS INTEGER)] AS o_orderstatus,
  CAST(100000 + hp % 49900000 AS DOUBLE) / 100.0 AS o_totalprice,
  TIMESTAMP '1992-01-01' + to_days(CAST(hd % 3500 AS INTEGER)) AS o_orderdate,
  ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
    [1 + CAST((hs // 3) % 5 AS INTEGER)] AS o_orderpriority
FROM b
ORDER BY hash({seed}, 'perm', o_orderkey)"""


def _wire_sql(seed: int, zipf_c: int) -> str:
    """Kafka frames over the ``orders`` view, one row per event, with the
    arrival segment a frame is delivered in (``seg``).

    * every order gets an insert;
    * the first 20% of keys in a seeded rank get updates, Zipf-skewed by
      that rank: rank r gets ``max(1, zipf_c // r)``, so the hottest key
      carries ``zipf_c`` updates;
    * the first 1% of keys in another seeded rank get a delete as their
      last event;
    * a key's events are a second apart, the insert first and the delete
      last; offsets follow event time within the key's partition;
    * 5% of frames are delivered one segment late."""
    return f"""
WITH k AS (
  SELECT CAST(o_custkey AS INTEGER) AS cid, CAST(o_orderkey AS INTEGER) AS oid,
    o_orderstatus AS st, epoch_ms(o_orderdate) AS t0,
    row_number() OVER (ORDER BY hash({seed}, 'rank', o_orderkey)) AS zr,
    row_number() OVER (ORDER BY hash({seed}, 'del', o_orderkey))
      <= count(*) OVER () // 100 AS del
  FROM orders),
ranked AS (SELECT *, zr <= count(*) OVER () // 5 AS upd FROM k),
counts AS (
  SELECT *, 1 + CASE WHEN upd THEN greatest(1, {zipf_c} // zr) ELSE 0 END
    + CAST(del AS INTEGER) AS n_ev
  FROM ranked),
timed AS (
  SELECT cid, oid, st, t0, del, n_ev, unnest(range(n_ev)) AS pos,
    hash(cid, oid) % {PARTITIONS} AS part
  FROM counts),
typed AS (
  SELECT *,
    CASE WHEN pos = 0 THEN 'c' WHEN del AND pos = n_ev - 1 THEN 'd' ELSE 'u' END AS op,
    t0 + pos * 1000 AS ts
  FROM timed),
offs AS (
  SELECT *, row_number() OVER (PARTITION BY part
      ORDER BY ts, hash({seed}, 'tie', oid, pos)) - 1 AS off,
    count(*) OVER (PARTITION BY part) AS part_n
  FROM typed),
framed AS (
  SELECT part, off, ts, op,
    to_json({{'schema': {{'name': 'orders.Key'}},
             'payload': {{'customer_id': cid, 'order_id': oid}}}}) AS k_json,
    to_json({{'schema': {{'name': 'orders.Envelope'}},
             'payload': {{
               'source': {{'version': '1.0', 'connector': 'scylla',
                          'name': 'QuickstartConnectorNamespace', 'ts_ms': ts,
                          'snapshot': 'false', 'db': 'quickstart_keyspace',
                          'keyspace_name': 'quickstart_keyspace',
                          'table_name': 'orders', 'ts_us': ts * 1000}},
               'before': CASE WHEN op = 'c' THEN NULL ELSE
                 {{'customer_id': cid, 'order_id': oid,
                  'product': {{'value': st || ':' || CAST(pos - 1 AS VARCHAR)}}}} END,
               'after': CASE WHEN op = 'd' THEN NULL ELSE
                 {{'customer_id': cid, 'order_id': oid,
                  'product': {{'value': st || ':' || CAST(pos AS VARCHAR)}}}} END,
               'op': op, 'ts_ms': ts, 'transaction': NULL}}}}) AS v_json,
    (off * {SEGMENTS}) // part_n AS own_seg,
    hash({seed}, 'late', oid, pos) % 20 = 0 AND own_seg < {SEGMENTS - 1} AS late
  FROM offs)
SELECT 'QuickstartConnectorNamespace.quickstart_keyspace.orders' AS topic,
  CAST(k_json AS VARCHAR) AS "key", CAST(v_json AS VARCHAR) AS "value",
  ts AS "timestamp", CAST(part AS INTEGER) AS "partition", off AS "offset",
  own_seg + CAST(late AS INTEGER) AS seg, late
FROM framed"""


#: DuckDB oracle over the wire topic: decode with ``json_extract``, keep the
#: latest frame per key by offset (a key lives in one partition, so its
#: offsets are totally ordered), drop tombstones. Columns and names match
#: the state the benchmark's wire pipeline writes.
WIRE_ORACLE_SQL = """
WITH d AS (
  SELECT CAST(json_extract("key", '$.payload.customer_id') AS INTEGER) AS customer_id,
    CAST(json_extract("key", '$.payload.order_id') AS INTEGER) AS order_id,
    json_extract_string("value", '$.payload.op') AS op,
    json_extract_string("value", '$.payload.after.product.value') AS product,
    CAST(json_extract("value", '$.payload.ts_ms') AS BIGINT) AS ts_ms,
    "partition", "offset"
  FROM topic),
r AS (SELECT *, row_number() OVER (PARTITION BY customer_id, order_id
    ORDER BY "offset" DESC) AS rn FROM d)
SELECT customer_id, order_id, op,
  CASE op WHEN 'c' THEN 'insert' WHEN 'u' THEN 'update' ELSE 'delete' END AS kind,
  product, ts_ms, "partition", "offset"
FROM r WHERE rn = 1 AND op <> 'd'"""


def _file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


def _files_under(root: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def expected_sql(workload: str) -> str:
    """The DuckDB oracle for a workload's final state, over the table
    ``topic`` (wire) or ``orders`` (upsert: the registry's own S10 oracle)."""
    if workload == "wire_backfill":
        return WIRE_ORACLE_SQL
    from scylladb_redpanda_cdc_spark.plans import registry

    return registry()["s10_foreachbatch_upsert"].oracle


def build(work_dir: str, workload: str, seed: int, scale: str = "full") -> dict:
    """Build (or reuse) one workload's inputs under ``work_dir`` and return
    its manifest. The directory holds the program's input (``orders.parquet``
    or ``topic/``), the oracle's expected final state (``expected.parquet``)
    and ``manifest.json``; it is written under a temporary name and renamed,
    so a reader never sees a half-built input."""
    import duckdb

    shape = SHAPES[scale][workload]
    final = input_dir(work_dir, workload, seed, scale)
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(final)  # most recently used: the cache prunes by mtime
        with open(manifest_path) as f:
            return json.load(f)
    t0 = time.perf_counter()
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{tmp}/.duckdb_tmp'")
    con.execute(f"CREATE TABLE orders AS {_orders_sql(seed, shape['base'])}")
    orders_path = os.path.join(tmp, "orders.parquet")
    con.execute(f"COPY orders TO '{orders_path}' (FORMAT PARQUET)")
    manifest: dict = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "shape": shape,
    }
    if workload == "wire_backfill":
        con.execute(f"CREATE TABLE frames AS {_wire_sql(seed, shape['zipf_c'])}")
        topic = os.path.join(tmp, "topic")
        os.makedirs(topic)
        # One parquet file per arrival segment, rows in arrival order: per
        # partition the segment's own frames, then the late ones it carries.
        for s in range(SEGMENTS):
            con.execute(
                f"""COPY (SELECT topic, "key", "value", "timestamp", "partition",
                  "offset" FROM frames WHERE seg = {s}
                  ORDER BY "partition", late, "offset")
                TO '{topic}/segment-{s:02d}.parquet' (FORMAT PARQUET)"""
            )
        con.execute("CREATE VIEW topic AS SELECT * EXCLUDE (seg, late) FROM frames")
        events, late, hot = con.execute(
            """SELECT count(*), count(*) FILTER (late),
                 (SELECT max(n) FROM (SELECT count(*) AS n FROM frames
                  GROUP BY "key")) FROM frames"""
        ).fetchone()
        manifest.update(hottest_key_events=hot, late_frames=late)
        program_files = _files_under(topic)
    else:
        # The registry oracles read the changelog off a table named
        # ``orders``; count its events with the program's own CTE.
        from scylladb_redpanda_cdc_spark.sources.changelog import CHANGELOG_SQL_CTE

        events = con.execute(
            f"WITH {CHANGELOG_SQL_CTE} SELECT count(*) FROM changelog"
        ).fetchone()[0]
        program_files = [orders_path]
    expected = os.path.join(tmp, "expected.parquet")
    con.execute(f"COPY ({expected_sql(workload)}) TO '{expected}' (FORMAT PARQUET)")
    manifest.update(
        events=int(events),
        orders_rows=int(con.execute("SELECT count(*) FROM orders").fetchone()[0]),
        expected_rows=int(
            con.execute(f"SELECT count(*) FROM read_parquet('{expected}')").fetchone()[0]
        ),
        input_files=len(program_files),
        input_bytes=sum(os.path.getsize(p) for p in program_files),
        content_hash=_file_digest(program_files),
        generate_s=round(time.perf_counter() - t0, 3),
    )
    con.close()
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    try:
        os.rename(tmp, final)
    except OSError:  # another process built the same inputs first; use them
        shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest_path) as f:
        return json.load(f)


def input_dir(work_dir: str, workload: str, seed: int, scale: str) -> str:
    """Cache directory of one workload's inputs; the name carries a digest
    of the shape and of this file, so a changed generator never reuses
    stale inputs."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read())
    digest.update(json.dumps(SHAPES[scale][workload], sort_keys=True).encode())
    return os.path.join(
        work_dir, "inputs", f"{workload}-{scale}-s{seed}-{digest.hexdigest()[:8]}"
    )


if __name__ == "__main__":
    _work, _wl, _seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    _scale = sys.argv[4] if len(sys.argv) > 4 else "full"
    print(json.dumps(build(_work, _wl, _seed, _scale), sort_keys=True))
