#!/usr/bin/env python
"""Driver-style correctness self-check.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and, where an
``oracle_sql()`` twin exists, the same query in DuckDB over the identical
parquet tables. Compares row count, column names, and a value hash computed
the way the driver does: columns sorted by name, rows sorted, values
stringified. Exits non-zero on any mismatch.

Usage: python tools/selfcheck.py [sf_dir] [query ...]

The Spark driver heap is ``SPARK_DRIVER_MEM`` when set, else half of the
host's memory (``session.get_spark``'s 24 GB default does not fit every
host).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _half_host_mem() -> str:
    """Half of MemTotal from /proc/meminfo, as a JVM size (e.g. "7g")."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f
                  if ln.startswith("MemTotal:"))
    return f"{max(1, kb // (2 * 1024 * 1024))}g"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as mod
    from fatespark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", _half_host_mem())
    spark = get_spark(cpus=32, app="selfcheck")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = mod.queries()
    oracles = mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        st = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows={len(srows)} (rows-only, no oracle) "
                  f"[spark {st:.2f}s]")
            continue
        t0 = time.monotonic()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        ot = time.monotonic() - t0
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
        if sh != oh:
            problems.append(f"valuehash {sh} != {oh}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
            if len(srows) == len(orows) and sorted(scols) == sorted(ocols):
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sl = sorted("|".join(norm(r[i]) for i in so) for r in srows)
                ol = sorted("|".join(norm(r[i]) for i in oo) for r in orows)
                shown = 0
                for a, b in zip(sl, ol):
                    if a != b:
                        print(f"   spark : {a[:160]}")
                        print(f"   oracle: {b[:160]}")
                        shown += 1
                        if shown >= 3:
                            break
        else:
            print(f"ok   {name}: rows={len(srows)} hash={sh} "
                  f"[spark {st:.2f}s, duckdb {ot:.2f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
