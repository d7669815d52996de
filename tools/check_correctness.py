#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, schema (column names), and an order-insensitive value hash.
Each ``ok``/``FAIL`` line ends with the Spark seconds and the DuckDB
oracle seconds of that row.

Usage: python3 tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

_args = [a for a in sys.argv[1:] if a != "--repeat"]
# --repeat: execute every Spark query TWICE in the same process and require
# hash-equal results from both executions. The second call serves the
# registry's prepared-plan cache (round 9), so this certifies the cache-HIT
# path against the oracle, not just the miss path the driver gate sees.
REPEAT = "--repeat" in sys.argv[1:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of a double is exact; both engines must produce bit-equal doubles
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, columns) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    from kafka_connect_storage_cloud_formats_spark import get_spark

    spark = get_spark("check_correctness")
    try:
        return check(spark)
    finally:
        # an unstopped session leaves a local-cluster's executors to be
        # killed by the JVM shutdown and relaunched by its Master
        spark.stop()


def check(spark) -> int:
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    # The ENGINE accepts URI-spelled corpora (file:///..., hdfs://...) —
    # that spelling goes to the Spark side verbatim so URI handling is
    # part of what this gate exercises. DuckDB only reads plain local
    # paths, so collapse file: URIs for the oracle views (the same
    # one-corpus identity catalog.canon_path gives the engine); a
    # genuinely remote corpus has no local oracle path and fails loudly
    # here, which is correct — the oracle needs driver-readable files.
    from kafka_connect_storage_cloud_formats_spark.catalog import canon_path

    oracle_dir = canon_path(SF_DIR)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{oracle_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = ONLY - set(queries)
    if unknown:
        # a misspelled filter previously matched nothing and the gate
        # printed PASS over zero queries — a false green (round-9 review)
        print(f"FAIL  unknown query name(s) in filter: {sorted(unknown)}")
        return 1
    failures = 0
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if REPEAT:
                sdf2 = fn(spark, SF_DIR)  # prepared-plan cache hit
                srows2 = [tuple(r) for r in sdf2.collect()]
                if value_hash(srows, scols) != value_hash(srows2, sdf2.columns):
                    print(f"FAIL  {name}: repeat execution hash-diverged [{time.time() - t0:.1f}s, oracle -]")
                    failures += 1
                    continue
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e} [{time.time() - t0:.1f}s, oracle -]")
            failures += 1
            continue
        spark_secs = time.time() - t0
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle; rows-only) [{spark_secs:.1f}s]")
            continue
        t0 = time.time()
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e} [{spark_secs:.1f}s, oracle {time.time() - t0:.1f}s]")
            failures += 1
            continue
        secs = f"[{spark_secs:.1f}s, oracle {time.time() - t0:.1f}s]"
        problems = []
        # Driver-environment hazard: DuckDB HUGEINT (e.g. SUM over an integer
        # type) renders as float64 under a pandas/arrow fetch ("123.0" vs
        # Spark's "123") and broke 8 round-1 driver hash checks despite
        # fetchall() matching locally. Force CAST(... AS BIGINT) in the oracle.
        huge = [c for c, t in zip(ocols, otypes) if "HUGEINT" in t]
        if huge:
            problems.append(f"oracle emits HUGEINT cols {huge} (driver-unsafe; CAST AS BIGINT)")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
                # show first diff for debugging
                sset = {
                    "|".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                }
                oset = {
                    "|".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                for line in sorted(sset - oset)[:2]:
                    problems.append(f"  spark-only: {line[:160]}")
                for line in sorted(oset - sset)[:2]:
                    problems.append(f"  duck-only:  {line[:160]}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + f" {secs}")
            failures += 1
        else:
            print(f"ok    {name}: rows={len(srows)} hash-match {secs}")
    print("RESULT:", "FAIL" if failures else "PASS", f"({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
