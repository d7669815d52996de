#!/usr/bin/env python3
"""Dump the plans of named registered queries to files.

Usage: python3 tools/dump_plans.py <out_dir> <suffix> [q1 q2 ...]

With no query names it dumps every registered query, in registry order.

Writes, per query, ``<out_dir>/<query>_<suffix>.txt`` (``explain('formatted')``),
``<out_dir>/<query>_<suffix>.opt.txt`` (the optimized logical plan with
every ``#<id>`` expression id replaced by ``#N``) and
``<out_dir>/<query>.oracle.sql`` (the registered oracle SQL, byte for
byte; absent for a row without an oracle). Two dumps with the same suffix
in different directories compare optimized plans and oracle text with

    diff -r -x '*_<suffix>.txt' <dir_a> <dir_b>

Plans are built at sf0.1 (the bench SF) unless SPARK_GRAFT_SF_DIR overrides.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    import __spark_entry__ as entry_mod
    from kafka_connect_storage_cloud_formats_spark import get_spark

    spark = get_spark("dump_plans")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in names or list(queries):
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            return 1
        df = queries[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        with open(os.path.join(out_dir, f"{name}_{suffix}.opt.txt"), "w") as f:
            f.write(re.sub(r"#\d+", "#N", opt))
        if oracles.get(name) is not None:
            with open(os.path.join(out_dir, f"{name}.oracle.sql"), "w") as f:
                f.write(oracles[name])
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
