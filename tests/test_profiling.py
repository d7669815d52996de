"""Profiling + clustering invariants (oracle parity via check_correctness)."""

from pyspark.sql import functions as F

from kafka_connect_storage_cloud_formats_spark.catalog import load_table
from kafka_connect_storage_cloud_formats_spark.operators.dedup import neardup_clusters
from kafka_connect_storage_cloud_formats_spark.operators.profiling import approx_profile


def test_column_profile_edge_cases(spark):
    """The generic profiler on inputs the orders table never exercises:
    an all-NULL column (n_distinct=0, NULL min/max), negative numerics
    (numeric — not lexicographic — min/max), and a mixed-NULL column."""
    from kafka_connect_storage_cloud_formats_spark.operators.profiling import column_profile

    df = spark.createDataFrame(
        [(-5.25, None, "b"), (10.0, None, None), (-70.5, None, "a")],
        "d double, all_null bigint, s string",
    )
    prof = {r["column_name"]: r for r in column_profile(df, ("d", "all_null", "s")).collect()}
    assert prof["all_null"]["n_rows"] == 3 and prof["all_null"]["n_nulls"] == 3
    assert prof["all_null"]["n_distinct"] == 0
    assert prof["all_null"]["min_value"] is None and prof["all_null"]["max_value"] is None
    # lexicographic min of rendered doubles would be '-5.250000'; numeric is -70.5
    assert prof["d"]["min_value"] == "-70.500000" and prof["d"]["max_value"] == "10.000000"
    assert prof["d"]["n_distinct"] == 3 and prof["d"]["n_nulls"] == 0
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["s"]["min_value"] == "a" and prof["s"]["max_value"] == "b"


def test_column_profile_precision_overflow_and_nan(spark):
    """Round-5 ADVICE fixes: doubles differing past 6 fractional digits
    stay DISTINCT (native-rendering dedup key), |v| >= 1e32 counts as a
    value (NULL display only, guarded — never an ANSI error), and NaN is a
    distinct value, not a null."""
    import math

    from kafka_connect_storage_cloud_formats_spark.operators.profiling import column_profile

    df = spark.createDataFrame(
        [(1.0000001, 2.5e33), (1.0000002, -2.5e33), (1.0000001, float("nan"))],
        "hi_prec double, huge double",
    )
    prof = {r["column_name"]: r for r in column_profile(df, ("hi_prec", "huge")).collect()}
    # sub-1e-6 differences no longer collapse
    assert prof["hi_prec"]["n_distinct"] == 2
    assert prof["hi_prec"]["n_nulls"] == 0
    # overflow/NaN: all three are VALUES (n_nulls=0, 3 distinct); the 6-dp
    # display can't represent them -> NULL display, not a miscount
    assert prof["huge"]["n_distinct"] == 3 and prof["huge"]["n_nulls"] == 0
    assert prof["huge"]["min_value"] is None  # -2.5e33 overflows decimal(38,6)
    assert prof["huge"]["max_value"] is None  # NaN sorts greatest in Spark


def test_column_profile_temporal_and_boolean_dtypes(spark):
    """Round-5 ADVICE fix: date / timestamp / boolean columns profile with
    real lexicographic-native min/max instead of NULLs through a failed
    double cast."""
    import datetime as dt

    from kafka_connect_storage_cloud_formats_spark.operators.profiling import column_profile

    df = spark.createDataFrame(
        [
            (dt.date(2024, 3, 9), dt.datetime(2024, 3, 9, 12, 30, 5), True),
            (dt.date(2023, 11, 2), dt.datetime(2023, 11, 2, 1, 2, 3), False),
            (dt.date(2024, 1, 15), dt.datetime(2024, 1, 15, 23, 59, 59), True),
        ],
        "d date, ts timestamp, b boolean",
    )
    prof = {r["column_name"]: r for r in column_profile(df, ("d", "ts", "b")).collect()}
    assert prof["d"]["min_value"] == "2023-11-02"
    assert prof["d"]["max_value"] == "2024-03-09"
    assert prof["ts"]["min_value"].startswith("2023-11-02 01:02:03")
    assert prof["ts"]["max_value"].startswith("2024-03-09 12:30:05")
    assert prof["b"]["min_value"] == "false" and prof["b"]["max_value"] == "true"
    assert prof["b"]["n_distinct"] == 2


def test_approx_profile_error_bounds(spark, sf_dir):
    """The raw HLL distinct estimate stays within 5% of exact (tighter than
    the query's own 10% verdict band), and every in-query verdict column is
    true on healthy data — the hash-verifiable form (round 6) must never
    emit a false verdict here."""
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    est = {
        r["event_type"]: r["au"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("au"))
        .collect()
    }
    for et, true in exact.items():
        assert abs(est[et] - true) / true <= 0.05, (et, est[et], true)
    for r in approx_profile(spark, sf_dir).collect():
        assert r["approx_users_ok"] and r["approx_p50_ok"] and r["approx_p99_ok"], dict(r.asDict())


def test_cc_driver_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    """The adaptive CC strategy gate must be result-invisible: labels from
    the driver-side union-find (small-graph path) and the distributed
    pointer-doubling loop are identical on the same corpus."""
    from kafka_connect_storage_cloud_formats_spark.operators import dedup as dd

    small = {tuple(r) for r in dd._neardup_labels(spark, sf_dir).collect()}
    monkeypatch.setattr(dd, "CC_DRIVER_MAX_EDGES", -1)  # force distributed
    big = {tuple(r) for r in dd._neardup_labels(spark, sf_dir).collect()}
    assert small == big and len(small) > 0


def test_neardup_clusters_respect_edges_and_min_label(spark, sf_dir):
    """Every strong LSH pair must be in one cluster; every cluster_id is the
    min doc_id of its members; docs without edges are singletons."""
    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        CLUSTER_MIN_EST_JACCARD,
        minhash_lsh_pairs,
    )

    clusters = {r["doc_id"]: r["cluster_id"] for r in neardup_clusters(spark, sf_dir).collect()}
    strong = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CLUSTER_MIN_EST_JACCARD)
        .collect()
    )
    assert strong, "test data should contain strong near-dup pairs"
    linked = set()
    for r in strong:
        assert clusters[r["d1"]] == clusters[r["d2"]], (r["d1"], r["d2"])
        linked |= {r["d1"], r["d2"]}
    by_cluster = {}
    for d, c in clusters.items():
        by_cluster.setdefault(c, []).append(d)
    for c, members in by_cluster.items():
        assert c == min(members)
        if len(members) > 1:
            assert set(members) & linked, f"multi-member cluster {c} with no edges"


def test_training_corpus_materialization(spark, sf_dir, tmp_path):
    """The composed pipeline writes a lang-partitioned corpus whose row
    count matches the stats query."""
    from kafka_connect_storage_cloud_formats_spark.operators.training_pipeline import (
        training_corpus_stats,
        write_training_corpus,
    )

    out = str(tmp_path / "corpus")
    kept = write_training_corpus(spark, sf_dir, out)
    stats = training_corpus_stats(spark, sf_dir)
    assert kept.count() == stats.agg(F.sum("n_docs")).first()[0]
    back = spark.read.parquet(out)
    assert set(back.columns) >= {"doc_id", "text", "lang"}
    # partition pruning works on the lang layout
    one_lang = stats.first()["lang"]
    assert back.filter(F.col("lang") == one_lang).count() == (
        stats.filter(F.col("lang") == one_lang).first()["n_docs"]
    )


# (the former test_pointer_doubling_cc_equals_plain is retired: round 5
# promoted the pointer-doubling algorithm INTO the registered
# neardup_clusters, so there is a single implementation, certified by the
# recursive-CTE DuckDB oracle and the edge/min-label invariants above)


def test_approx_profile_verdicts_total_on_degenerate_groups(spark):
    """Round-6 ADVICE #1: a group whose user_id is all NULL (exact
    distinct 0) or whose value is all NULL (NULL quantile band endpoints)
    must still emit BOOLEAN verdicts — true for a healthy sketch agreeing
    with the degenerate exact answer, never NULL (which would
    hash-diverge from the oracle's literal TRUE)."""
    from kafka_connect_storage_cloud_formats_spark.operators.profiling import (
        _approx_profile_from,
    )

    rows = (
        # group A: normal
        [("a", i % 7, float(i)) for i in range(40)]
        # group B: all-NULL user_id (xu = 0)
        + [("b", None, float(i)) for i in range(10)]
        # group C: all-NULL value (NULL band endpoints)
        + [("c", i % 3, None) for i in range(10)]
        # group D: fully degenerate
        + [("d", None, None) for i in range(5)]
    )
    ev = spark.createDataFrame(
        rows, "event_type string, user_id int, value double"
    )
    out = {r["event_type"]: r for r in _approx_profile_from(ev).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    for g, r in out.items():
        for col in ("approx_users_ok", "approx_p50_ok", "approx_p99_ok"):
            assert r[col] is True, (g, col, r[col])


def test_drop_drift_report_hand_computed(spark, tmp_path):
    """Drift gate on a corpus with a KNOWN split distribution: drop docs
    (doc_id % 5 == 4) sit in one length bucket, corpus docs in two —
    counts, within-split proportions, and |gap| all hand-checkable."""
    import os

    import pandas as pd

    from kafka_connect_storage_cloud_formats_spark.operators.profiling import drop_drift_report

    texts = {
        # corpus side (doc_id % 5 != 4): two 5-token docs, one 15-token
        1: "a b c d e",
        2: "f g h i j",
        3: " ".join(["w"] * 15),
        # drop side (doc_id % 5 == 4): one 5-token, one 15-token
        4: "k l m n o",
        9: " ".join(["z"] * 15),
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 5,
            "source": ["web"] * 5,
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(os.path.join(tmp_path, "documents.parquet"))
    rows = {r["bucket"]: r.asDict() for r in drop_drift_report(spark, str(tmp_path)).collect()}
    assert set(rows) == {0, 1}
    b0, b1 = rows[0], rows[1]
    assert (b0["n_corpus"], b0["n_drop"]) == (2, 1)
    assert (b1["n_corpus"], b1["n_drop"]) == (1, 1)
    assert b0["p_corpus"] == 2 / 3 and b0["p_drop"] == 0.5
    assert b1["p_corpus"] == 1 / 3 and b1["p_drop"] == 0.5
    assert abs(b0["abs_gap"] - (2 / 3 - 0.5)) < 1e-15
    assert abs(b1["abs_gap"] - (0.5 - 1 / 3)) < 1e-15


def test_drop_drift_report_refuses_empty_split(spark, tmp_path):
    """Zero-split guard (round-14 ADVICE): a corpus whose drop split is
    EMPTY must refuse loudly on BOTH engines (the oracle carries the same
    error() branch) — a silent NULL-vs-Inf divergence between Spark and
    DuckDB is exactly what the hash gate must never absorb."""
    import os

    import pandas as pd
    import pytest

    from kafka_connect_storage_cloud_formats_spark.operators.profiling import (
        drop_drift_report,
    )

    # doc_ids 1,2,3 → all corpus-side (no doc_id % 5 == 4 row exists)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c", "d e f", "g h i"],
            "lang": ["en"] * 3,
            "source": ["web"] * 3,
            "n_chars": [5, 5, 5],
        }
    ).to_parquet(os.path.join(tmp_path, "documents.parquet"))
    with pytest.raises(Exception, match="empty drop split"):
        drop_drift_report(spark, str(tmp_path)).collect()


def test_drift_gated_merge_certifies_both_postures(spark, sf_dir):
    """The gate row (round 15): the production posture ACCEPTS the
    shipped drop (publishing corpus + kept batch) and the strict posture
    REJECTS it (publishing the unchanged corpus side); the reported tvd
    must equal the report row's Σ abs_gap / 2, and the exact-rational
    decision must agree with an arbitrary-precision Python recompute."""
    from kafka_connect_storage_cloud_formats_spark.operators.profiling import (
        DRIFT_TVD_BP_PRODUCTION,
        DRIFT_TVD_BP_STRICT,
        _drift_terms,
        drift_gated_merge,
        drop_drift_report,
    )

    rows = {r["posture"]: r.asDict() for r in drift_gated_merge(spark, sf_dir).collect()}
    assert set(rows) == {"production", "strict"}
    prod, strict = rows["production"], rows["strict"]
    assert prod["threshold_bp"] == DRIFT_TVD_BP_PRODUCTION
    assert strict["threshold_bp"] == DRIFT_TVD_BP_STRICT
    assert prod["decision"] == "accept"
    assert strict["decision"] == "reject"
    # publish semantics: accept = corpus + kept batch, reject = corpus only
    assert prod["n_published"] == prod["n_corpus"] + prod["n_batch_kept"]
    assert strict["n_published"] == strict["n_corpus"]
    assert prod["n_batch_kept"] > 0  # the shipped drop has kept docs
    # tvd agrees with the report row (Σ abs_gap / 2) and the exact terms
    report_tvd = (
        sum(r["abs_gap"] for r in drop_drift_report(spark, sf_dir).collect()) / 2
    )
    assert abs(prod["tvd"] - report_tvd) < 1e-12
    t = _drift_terms(spark, sf_dir).collect()[0]
    gap, td, tc = int(t["gap_sum"]), int(t["t_drop"]), int(t["t_corpus"])
    assert int(t["gap_scaled"]) == gap * 10000
    for row in (prod, strict):
        expect = "reject" if gap * 10000 > row["threshold_bp"] * 2 * td * tc else "accept"
        assert row["decision"] == expect


def test_ensure_drift_gated_merge_refuses_and_publishes(spark, sf_dir):
    """The library gate itself: at the strict dial it must REFUSE loudly
    (raise, publish nothing new); at the production dial it must return
    exactly the standard merged content-hash generation."""
    import pytest

    from kafka_connect_storage_cloud_formats_spark.operators.dedup import (
        ensure_merged_corpus,
    )
    from kafka_connect_storage_cloud_formats_spark.operators.profiling import (
        DRIFT_TVD_BP_STRICT,
        ensure_drift_gated_merge,
    )

    with pytest.raises(ValueError, match="drop refused"):
        ensure_drift_gated_merge(spark, sf_dir, max_tvd_bp=DRIFT_TVD_BP_STRICT)
    path = ensure_drift_gated_merge(spark, sf_dir)
    assert path == ensure_merged_corpus(spark, sf_dir, "content_hashes")
