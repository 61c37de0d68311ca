#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the same query on DuckDB over the same
parquet tables; compares row count, column names, and an
order-insensitive value hash (floats canonicalized). Prints one line per
query and exits non-zero on any mismatch.

Usage: python tools/oracle_check.py [sf_dir] [query ...]

With no query names it checks exactly the gate rows; a name may also be
a non-gate row (``plans.rotated_queries()``), checked the same way
against its registered oracle SQL.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # checkout root

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def nonscalar_columns(columns: list[str], rows: list[tuple]) -> list[str]:
    """Columns holding list/tuple/dict/set values — the driver's pandas
    ``sort_values`` canonicalization cannot factorize these
    (``TypeError: unhashable type: 'list'``), so a gate query emitting
    one ships a red row no matter how correct the floats are
    (CORRECTNESS_r16 ``graph_walk_embeddings``). The replica must be at
    least as strict as the driver: any non-scalar output value is a
    loud FAIL here, never a silent stringification."""
    bad: set[str] = set()
    for r in rows:
        for c, v in zip(columns, r):
            if isinstance(v, (list, tuple, dict, set)):
                bad.add(c)
    return sorted(bad)


def canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # 12 significant digits: coarse enough to absorb last-ulp engine
        # noise, fine enough that 2dp-rounded money >= 10,000 keeps cents
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols_sorted = [columns[i] for i in order]
    canon_rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\x1e".join(canon_rows).encode()).hexdigest()[:16]
    return len(rows), cols_sorted, digest


def type_profile(columns: list[str], rows: list[tuple]) -> dict[str, set[str]]:
    """Observed Python value types per column (non-null). canon() folds
    16905.0 and 16905 together, but the DRIVER's value-hash does not —
    round 5 shipped three value-identical queries that failed the gate
    purely on DuckDB's HUGEINT sum type, and this check (like
    tests/test_driver_contract.py) makes that class of bug fail
    locally."""
    prof: dict[str, set[str]] = {c: set() for c in columns}
    for r in rows:
        for c, v in zip(columns, r):
            if v is not None:
                prof[c].add(type(v).__name__)
    return prof


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    import __spark_entry__ as entrymod
    from etl_instagram_spark.plans import rotated_queries
    from etl_instagram_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    for name, (fn, sql) in rotated_queries().items():
        if name in only:
            queries[name] = fn
            if sql is not None:
                oracles[name] = sql() if callable(sql) else sql
    unknown = sorted(set(only) - set(queries))
    for name in unknown:
        print(f"FAIL  {name}: no such query")
    failures = len(unknown)
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        bad_shape = nonscalar_columns(scols, srows)
        if bad_shape:
            print(
                f"FAIL  {name}: non-scalar output columns {bad_shape} — "
                "the driver's pandas canonicalization cannot hash these "
                "(posexplode/UNNEST them into scalar rows)"
            )
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only check)")
            continue
        try:
            ddf = con.sql(oracles[name]).fetchall()
            dcols = [d[0] for d in con.sql(oracles[name]).description]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        sn, sc, sh = frame_fingerprint(scols, srows)
        dn, dc, dh = frame_fingerprint(dcols, ddf)
        if sc != dc:
            print(f"FAIL  {name}: columns differ spark={sc} duckdb={dc}")
            failures += 1
        elif sn != dn:
            print(f"FAIL  {name}: rows differ spark={sn} duckdb={dn}")
            failures += 1
        elif sh != dh:
            print(f"FAIL  {name}: value hash differs ({sn} rows)")
            # show first diffs for debugging
            sset = {tuple(canon(v) for v in r) for r in srows}
            dset = {tuple(canon(v) for v in r) for r in ddf}
            for r in list(sset - dset)[:3]:
                print(f"        spark-only: {r}")
            for r in list(dset - sset)[:3]:
                print(f"        duck-only : {r}")
            failures += 1
        else:
            sp, dp = type_profile(scols, srows), type_profile(dcols, ddf)
            bad = {
                c: (sp[c], dp[c])
                for c in sp
                if sp[c] and dp.get(c) and sp[c] != dp[c]
            }
            if bad:
                print(f"FAIL  {name}: value types differ {bad}")
                failures += 1
            else:
                print(f"OK    {name}: {sn} rows, hash {sh}")
    spark.stop()
    print(f"{'FAILURES: ' + str(failures) if failures else 'ALL MATCH'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
