"""Scale-posture gates: every registered query's physical plan must be free
of unbounded row-pairing operators (the audits that matter at 100 TB, run
at sf0.001 — plan shape is scale-invariant)."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod
from tools.plan_audit import ALLOWED_NESTED, audit


def test_no_nested_loop_or_cartesian_joins(spark, sf_dir):
    violations = {}
    for name, fn in entry_mod.queries().items():
        problems, _ = audit(name, fn(spark, sf_dir))
        if problems:
            violations[name] = problems
    assert not violations, f"unbounded join strategies: {violations}"


def test_allowed_nested_are_documented_exceptions(spark, sf_dir):
    """The whitelists must stay minimal and each member genuinely broadcast
    a bounded side (O(small × N) by contract; scalar-cross = O(1 × N))."""
    from tools.plan_audit import ALLOWED_SCALAR_CROSS

    assert ALLOWED_NESTED == {
        # round 16: every ivf*/ivf_kmeans* TOPK row left this set —
        # _ivf_probe routes query→cell driver-side now (the pq._route_df
        # shape), so no probe plan carries the Q×k crossJoin anymore; the
        # survivors are exactly the 1-row recall-ratio crosses of the
        # shared _recall_vs_truth evaluation.
        "ann_recall_at_10",
        "sq8_recall_at_10",
        "ivf_recall_at_10",
        "ivf_kmeans_recall_at_10",
        "ivf_kmeans_recall_nprobe4",
        "ivf_kmeans_recall_upserted",
        # round 14: the PQ tiers' recall rows (1-row recall-ratio cross)
        "pq_recall_at_10",
        "ivfpq_recall_at_10",
        # round 15: the incremental/residual IVFPQ recall rows — the same
        # standard 1-row recall-ratio cross (their probes are equi-join)
        "ivfpq_recall_upserted",
        "ivfpq_residual_recall_at_10",
        "ivfpq_residual_recall_upserted",
    }
    assert ALLOWED_SCALAR_CROSS == {
        "q22_rich_inactive_customers",
        "q11_important_parts",
        "doc_quality_deciles",
        # round 14: the drift gate's two split totals (1 row)
        "drop_drift_report",
        # round 15: the gated accept row — 2 posture rows × the 1-row
        # exact-rational drift terms × the 1-row merged-count aggregate
        "drift_gated_merge",
    }
    from tools.plan_audit import ALLOWED_CHECKPOINT

    # round 7 shrank this set again: the simhash fingerprint and
    # hyperplane signature tables ride content-keyed parquet artifacts
    # now (like the round-6 shingle/minhash move) — only iterative CC
    # loop state legitimately checkpoints
    assert ALLOWED_CHECKPOINT == {
        "neardup_clusters",
        "training_corpus_stats",
    }


def test_unpartitioned_window_detector_classifies_renderings():
    """Round-14: the plan audit gates unpartitioned WindowExec (no
    whitelist — the one shape that serializes the whole input through a
    single task, round-13 verdict "What's wrong #1"). The detector must
    flag order-only and bare windows while passing partition-only (e.g.
    min-per-group) and fully-specified ones."""
    from tools.plan_audit import unpartitioned_windows

    order_only = (
        "+- Window [sum(n#2L) windowspecdefinition(doc_id#1L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS s#4L], [doc_id#1L ASC NULLS FIRST]"
    )
    partition_only = (
        "+- Window [min(doc_id#70L) windowspecdefinition(content_hash#72, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS min_id#64L], [content_hash#72]"
    )
    partitioned_ordered = (
        "+- Window [sum(n#2L) windowspecdefinition(b#3L, doc_id#1L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS s#6L], [b#3L], [doc_id#1L ASC NULLS FIRST]"
    )
    bare = "+- Window [count(1) windowspecdefinition(...) AS c#9L]"
    assert unpartitioned_windows(order_only) == 1
    assert unpartitioned_windows(bare) == 1
    assert unpartitioned_windows(partition_only) == 0
    assert unpartitioned_windows(partitioned_ordered) == 0
    assert unpartitioned_windows("\n".join([order_only, partition_only, bare])) == 2
    # non-Window operators never match (WindowGroupLimit, scans, ...)
    assert unpartitioned_windows("+- WindowGroupLimit [x#1L ASC]") == 0


def test_duplicated_arrow_kernel_detector_flags_r15_regression_shape():
    """The audit must fail any plan where ONE Arrow kernel call is
    evaluated in TWO ArrowEvalPython nodes over the SAME attributes (the
    guide-§4.4 double evaluation the `_once` UDF variants prevent), also
    when the call's arguments nest another call. Red fixture: the
    committed r15 before-plan of dedup_embedding_cosine; green fixtures:
    its fixed after-plan and the same kernel over DIFFERENT attributes."""
    import os

    from tools.plan_audit import duplicated_arrow_kernels

    red = open(os.path.join("plans", "r15", "dedup_embedding_cosine_before.txt")).read()
    flagged = duplicated_arrow_kernels(red)
    assert "l2_norm_vec(embedding#336)" in flagged and any(
        f.startswith("dot_vec(") for f in flagged
    ), flagged
    green = open(os.path.join("plans", "r15", "dedup_embedding_cosine_after3.txt")).read()
    assert duplicated_arrow_kernels(green) == []
    # same kernel, different inputs (two join sides): NOT duplication
    two_sides = (
        "ArrowEvalPython [l2_norm_vec(embedding#1)#9], [pythonUDF0#20], 200\n"
        "ArrowEvalPython [l2_norm_vec(embedding#2)#9], [pythonUDF0#21], 200\n"
    )
    assert duplicated_arrow_kernels(two_sides) == []
    # a re-printed node of a reused subtree (identical line): NOT duplication
    reused = (
        "ArrowEvalPython [dot_vec(a#1, b#2)#9], [pythonUDF0#20], 200\n"
        "ArrowEvalPython [dot_vec(a#1, b#2)#9], [pythonUDF0#20], 200\n"
    )
    assert duplicated_arrow_kernels(reused) == []
    # the regression shape in simple rendering: same args, fresh result ids
    dup = (
        "ArrowEvalPython [dot_vec(a#1, b#2)#9], [pythonUDF0#20], 200\n"
        "ArrowEvalPython [dot_vec(a#1, b#2)#10], [pythonUDF0#21], 200\n"
    )
    assert duplicated_arrow_kernels(dup) == ["dot_vec(a#1, b#2)"]
    # the same shape with a nested call in the arguments
    nested = (
        "ArrowEvalPython [dot_vec(coalesce(a#1, b#2))#9], [pythonUDF0#20], 200\n"
        "ArrowEvalPython [dot_vec(coalesce(a#1, b#2))#10], [pythonUDF0#21], 200\n"
    )
    assert duplicated_arrow_kernels(nested) == ["dot_vec(coalesce(a#1, b#2))"]


def test_q21_plan_is_lazy_and_transparent(spark, sf_dir):
    """Regression gate for KNOWN_ISSUES r4 #1: building q21's plan must not
    embed a pre-executed RDD (the old eager localCheckpoint ran the most
    expensive join in the suite at PLAN-BUILD time and the audit saw only
    `Scan ExistingRDD`). The full join subtree — both consumers of the
    `late` distinct — must be visible in the physical plan."""
    qs = entry_mod.queries()
    plan = (
        qs["q21_sole_late_supplier"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" not in plan, "q21 plan embeds a pre-executed checkpoint"
    assert plan.count("lineitem") >= 2, "late subtree not visible in both consumers"


def test_filter_pushdown_reaches_scans(spark, sf_dir):
    """Filtering queries must push predicates into the parquet scan."""
    qs = entry_mod.queries()
    for name in ("q3_shipping_priority", "q5_local_supplier_volume"):
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.replace(
            "PushedFilters: [],", ""
        ), f"{name}: no pushed filters in scan"
