#!/usr/bin/env python3
"""Physical-plan audit over every registered query.

For each ``__spark_entry__.queries()`` entry, inspects the executed plan and
reports: join strategies, shuffle (Exchange) count, scan pushdown
(PushedFilters / ReadSchema), and flags plans that would not survive scale:

- ``BroadcastNestedLoopJoin`` / ``CartesianProduct`` — O(n·m) row pairing.
  Allowed only for operators whose *contract* is a bounded cross product
  (brute-force kNN baseline: tiny broadcast query side × corpus; IVF
  centroid assignment: queries × n_labels).
- ``BatchEvalPython`` — a row-at-a-time Python UDF. NO whitelist: the
  engine's contract is that every Python boundary is Arrow-batched
  (``ArrowEvalPython`` / ``MapInPandas`` / pandas grouped ops), which is
  10-100× cheaper per row; a plain UDF sneaking in is a scale bug.

Also records per-query stats and (with ``--json PATH``) dumps them for
plan diffing: plan-shape counts (exchanges, each join strategy, Generate,
Window, Sort, Python nodes, codegen spans), ``driver_build_s`` (the cold
``fn(spark, sf_dir)`` plan build, before the prepared-plan cache holds
the row) and ``collect_s`` (the one execution of the plan).

Usage: python3 tools/plan_audit.py [sf_dir] [--json PATH]  — exits 1 on
violations.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ARGS = sys.argv[1:]
JSON_OUT = None
if "--json" in _ARGS:
    i = _ARGS.index("--json")
    if i + 1 >= len(_ARGS):
        raise SystemExit("usage: plan_audit.py [sf_dir] --json <out.json>")
    JSON_OUT = _ARGS[i + 1]
    _ARGS = _ARGS[:i] + _ARGS[i + 2 :]
SF_DIR = _ARGS[0] if _ARGS else "/root/testdata/sf0.01"

# Operators whose spec is an intentional bounded cross product (documented in
# their docstrings); everything else must be equi-join only.
ALLOWED_NESTED = {
    # exactly the 1-row recall-ratio crosses of the shared
    # _recall_vs_truth evaluation; every probe plan is equi-join only
    "ann_recall_at_10",  # 1-row recall-ratio cross + composed baselines
    "sq8_recall_at_10",  # same 1-row recall-ratio cross for the int8 tier
    "ivf_recall_at_10",  # same 1-row recall-ratio cross
    "ivf_kmeans_recall_at_10",
    "ivf_kmeans_recall_nprobe4",  # same 1-row cross, nprobe=4
    "ivf_kmeans_recall_upserted",
    "pq_recall_at_10",
    "ivfpq_recall_at_10",
    "ivfpq_recall_upserted",
    "ivfpq_residual_recall_at_10",
    "ivfpq_residual_recall_upserted",
}

# Queries that fold a GLOBAL SCALAR into the plan via crossJoin(broadcast(
# 1-row aggregate)) — the canonical single-plan scalar-subquery shape (no
# driver-side collect). The BroadcastNestedLoopJoin it produces is O(1 × N):
# bounded by construction, safe at any scale.
ALLOWED_SCALAR_CROSS = {
    "q22_rich_inactive_customers",  # avg(c_acctbal) threshold
    "q11_important_parts",  # avg(part_value) threshold
    "doc_quality_deciles",  # 9 percentile_disc boundaries, 1 row
    "drop_drift_report",  # the two split totals, 1 row
    "drift_gated_merge",  # 2 posture rows × 1-row drift terms × 1-row count
}

# Queries whose plan legitimately embeds a pre-materialized block
# (``Scan ExistingRDD`` from an eager localCheckpoint): each is a
# documented shared-intermediate — a derivation multiple consumers in the
# SAME plan would otherwise re-run — and each materializes a REDUCED
# stream (shingle rows, 3-long fingerprints, band rows, CC labels), never
# a full join. Anything else with an ExistingRDD scan is the q21-class
# bug (KNOWN_ISSUES r4 #1, fixed r5): a hidden job at plan-build time
# that also blinds this audit to the pre-checkpoint subtree.
ALLOWED_CHECKPOINT = {
    # corpus-scale intermediates ride content-keyed parquet artifacts;
    # only iterative loop state is checkpoint-inherent
    "neardup_clusters",  # CC edge/label tables (iterative: inherent)
    "training_corpus_stats",  # composes the CC labels above
}


def unpartitioned_windows(plan: str) -> int:
    """Count Window operators with NO partition spec — the
    move-everything-to-one-partition shape ("No Partition Defined for
    Window operation"): the whole input serializes through a single task,
    the one plan class that cannot survive a 100× scale-up. NO whitelist —
    a global layout that needs a running total has the two-pass prefix-sum
    alternative
    (operators/training_pipeline._with_token_end).

    Detection: a ``Window`` plan line renders its argument lists as
    top-level bracket groups — ``[exprs], [partition], [order]`` when
    fully specified; a missing partition OR order spec drops its group.
    A partition-only window (``[exprs], [partition]`` — e.g. min-per-group
    via ``partitionBy(key)`` with an unbounded frame) is fine: it
    parallelizes by the key. The violating shapes are order-only
    (``[exprs], [order]`` — the second group carries sort directions)
    and bare ``[exprs]`` (whole input as ONE frame)."""
    n = 0
    for line in plan.splitlines():
        body = line.lstrip(" +-:*()0123456789")
        if not body.startswith("Window ["):
            continue
        depth, groups = 0, []
        for ch in body:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            if depth > 0 and groups:
                groups[-1] += ch
        is_order_spec = len(groups) >= 2 and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        )
        if len(groups) == 1 or (len(groups) == 2 and is_order_spec):
            n += 1
    return n


_RESULT_ID = re.compile(r"#\d")


def _result_id_calls(text: str) -> set[str]:
    """Every ``fn(args)`` in ``text`` that is followed by a ``#id``, its
    arguments scanned to the balanced closing paren."""
    calls, opens = set(), []
    for m in re.finditer(r"\w+\(|[()]", text):
        if m.group(0) != ")":
            opens.append(m.start() if m.group(0) != "(" else None)
        elif opens:
            start = opens.pop()
            if start is not None and _RESULT_ID.match(text, m.end()):
                calls.add(text[start: m.end()])
    return calls


def duplicated_arrow_kernels(plan: str) -> list[str]:
    """Detect the guide-§4.4 failure mode: ONE Arrow kernel call evaluated
    in TWO (or more) ArrowEvalPython nodes with identical arguments —
    what happens when a filter on a UDF-derived column is pushed below
    the projection and the optimizer re-evaluates the kernel per branch.
    The `_once` non-deterministic UDF variants prevent it; the marker is
    invisible in plan text, the duplication it prevents is not.

    Detection: collect every ``fn(args)#id`` expression inside
    ArrowEvalPython argument lists, with the arguments scanned to their
    balanced closing paren so nested calls count
    (``dot_vec(coalesce(a#1, b#2))#9``), strip ONLY the trailing result id
    (``fn(a#3, b#7)#12`` → ``fn(a#3, b#7)``), and flag any call appearing
    in more than one node. Argument expr ids are deliberately KEPT: the
    same kernel over DIFFERENT inputs (two join sides, union branches —
    the project-through-union copies are one logical pass split per
    branch, not extra work) has different argument ids and never flags;
    true §4.4 duplication evaluates the kernel twice over the SAME
    attributes (one copy below the pushed filter, one in the projection)
    with only fresh result ids. Re-printed nodes of a reused exchange
    render identically (same node line) and dedupe away."""
    node_calls: list[set] = []
    seen_node_lines: set = set()
    pending: set | None = None  # formatted rendering: args follow the node
    for line in plan.splitlines():
        stripped = line.strip()
        if "ArrowEvalPython" in stripped:
            if stripped in seen_node_lines:
                pending = None  # re-printed node (reused subtree): skip
                continue
            seen_node_lines.add(stripped)
            calls = _result_id_calls(stripped)
            node_calls.append(calls)
            # simple rendering carries args on the node line; formatted
            # puts them on the following "Arguments:" line
            pending = calls if not calls else None
        elif pending is not None and stripped.startswith("Arguments:"):
            pending |= _result_id_calls(stripped)
            pending = None
    seen: dict[str, int] = {}
    dups: list[str] = []
    for idx, calls in enumerate(node_calls):
        for c in calls:
            if c in seen and seen[c] != idx:
                dups.append(c)
            else:
                seen[c] = idx
    return sorted(set(dups))


# Plan-shape counts on the initial plan: stats only, never a verdict.
PLAN_COUNTS = {
    "smj": r"\bSortMergeJoin\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "cartesian": r"\bCartesianProduct\b",
    "batch_eval": r"\bBatchEvalPython\b",
    "generate": r"\bGenerate\b",
    "window": r"\bWindow\b",
    "sort": r"\bSort\b",
}


def audit(name: str, df) -> tuple[list[str], dict]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    stats = {
        "joins": sorted(set(re.findall(r"(\w*(?:HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct))", plan))),
        "exchanges": len(re.findall(r"\bExchange (?:hash|range|SinglePartition)", plan)),
        "scans": len(re.findall(r"FileScan|BatchScan", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "codegen_spans": len(re.findall(r"WholeStageCodegen \(\d+\)", plan)),
        "arrow_python": len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
        **{k: len(re.findall(p, plan)) for k, p in PLAN_COUNTS.items()},
    }
    problems = []
    if name not in ALLOWED_NESTED and name not in ALLOWED_SCALAR_CROSS:
        for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            if bad in plan:
                problems.append(bad)
    # No whitelist: a row-at-a-time Python UDF is a scale bug anywhere.
    if "BatchEvalPython" in plan:
        problems.append("BatchEvalPython(row-at-a-time UDF)")
    # No whitelist: a window with no partition spec serializes its whole
    # input through one task.
    n_upw = unpartitioned_windows(plan)
    if n_upw:
        problems.append(f"UnpartitionedWindow(x{n_upw} single-task global window)")
    # No whitelist: the same Arrow kernel over the same attributes in two
    # ArrowEvalPython nodes is the guide-§4.4 double evaluation (a lost
    # `_once` protection).
    dup_kernels = duplicated_arrow_kernels(plan)
    if dup_kernels:
        problems.append(f"DuplicatedArrowKernel({','.join(dup_kernels)})")
    if "ExistingRDD" in plan and name not in ALLOWED_CHECKPOINT:
        problems.append("ExistingRDD(undocumented eager checkpoint)")
    # Supplementary FINAL-plan stats: the pre-execution string above is the
    # AQE initial plan, whose WholeStageCodegen markers aren't yet
    # assigned (codegen_spans reads 0). Execute once and re-read so the
    # JSON snapshot records the plan that actually ran — violation logic
    # stays on the initial plan (stable gate semantics across rounds).
    try:
        # Execute THIS df's own plan (count() builds a separate aggregate
        # plan and would leave this QueryExecution unexecuted); result
        # sets are presentation-sized at the audit SF.
        t0 = time.perf_counter()
        df.collect()
        stats["collect_s"] = round(time.perf_counter() - t0, 3)
        final = df._jdf.queryExecution().executedPlan().toString()
        # simple plan strings mark codegen stages with `*(N)` prefixes —
        # count DISTINCT stage ids, not marker occurrences
        stats["codegen_spans_final"] = len(set(re.findall(r"\*\((\d+)\)", final)))
        stats["exchanges_final"] = len(
            re.findall(r"\bExchange (?:hash|range|SinglePartition)", final)
        )
        stats["reused_exchanges_final"] = len(re.findall(r"ReusedExchange", final))
        stats["aqe_final"] = "isFinalPlan=true" in final
    except Exception as e:  # noqa: BLE001 — enrichment must never fail the gate
        stats["final_plan_error"] = str(e)
    return problems, stats


def main() -> int:
    import __spark_entry__ as entry_mod
    from kafka_connect_storage_cloud_formats_spark import get_spark

    spark = get_spark("plan_audit")
    failures = 0
    all_stats: dict = {}
    for name, fn in entry_mod.queries().items():
        try:
            # Driver-time column: wall-clock of the fn() call itself —
            # pure driver work (py4j plan construction, artifact-memo
            # checks, bounded collects; no action). The first call per
            # process is the cache-MISS build a fresh session pays once;
            # with the prepared-plan cache later calls cost ~1-3 ms.
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            build_s = round(time.perf_counter() - t0, 3)
            problems, stats = audit(name, df)
            stats["driver_build_s"] = build_s
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: {e}")
            failures += 1
            all_stats[name] = {"error": str(e)}
            continue
        tag = "FAIL " if problems else "ok   "
        if problems:
            failures += 1
        all_stats[name] = {**stats, "violations": problems}
        print(
            f"{tag} {name}: joins={','.join(stats['joins']) or '-'} "
            f"exchanges={stats['exchanges']} scans={stats['scans']} "
            f"pushed_filter_scans={stats['pushed']} "
            f"codegen_final={stats.get('codegen_spans_final', '?')}"
            + (f"  VIOLATIONS={problems}" if problems else "")
        )
    if JSON_OUT:
        with open(JSON_OUT, "w") as f:
            json.dump({"sf_dir": SF_DIR, "queries": all_stats}, f, indent=1, sort_keys=True)
        print(f"# per-query plan stats -> {JSON_OUT}")
    print("RESULT:", "FAIL" if failures else "PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
