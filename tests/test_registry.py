"""Registry contract guards: the driver's correctness gate checks the
first 50 registry entries, so the registry order decides which queries
earn fresh evidence."""

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_fn_and_distinct_name():
    from kafka_connect_storage_cloud_formats_spark.queries.registry import QUERIES

    assert len(QUERIES) >= 81
    for name, (fn, sql) in QUERIES.items():
        assert callable(fn), name
        assert sql is None or isinstance(sql, str), name


def _replay(through: int, current: dict | None = None):
    """(first 50 names, last green rounds, manifest, code fingerprints) of
    the order computed from the evidence and manifest through round
    ``through`` for the code of the next round (default: its manifest
    entry), over the queries registered in r16."""
    from kafka_connect_storage_cloud_formats_spark.queries import registry, window

    manifest = window.load_manifest(REPO)
    names = [n for n in registry._ALL if n in manifest[16]]
    evidence = {r: rows for r, rows in window.load_evidence(REPO).items() if r <= through}
    past = {r: fps for r, fps in manifest.items() if r <= through}
    current = current or manifest[through + 1]
    first = window.driver_order(names, evidence, past, current)[:50]
    return first, window.last_green(evidence), past, current


def test_unevidenced_queries_lead_the_driver_window():
    """The registry is ordered by window.driver_order: never-evidenced
    rows, then rows at the staleness bound, then rows changed since their
    last green row (earliest change first), then oldest evidence, then
    registration order. Without evidence the order is registration order."""
    from kafka_connect_storage_cloud_formats_spark.queries import registry, window

    names = ["new", "fresh", "late_change", "early_change", "old", "stale"]
    evidence = {
        1: {"stale": True},
        2: {"early_change": True, "late_change": True, "old": True, "fresh": False},
        3: {"fresh": True},
    }
    manifest = {r: {n: "v2" for n in names} for r in (2, 3)}
    manifest[3]["early_change"] = "v3"
    current = {**manifest[3], "late_change": "v4"}
    # latest round 3, ceil(6 / 2) = 3 rounds per pass: the bound is round 1
    assert window.driver_order(names, evidence, manifest, current, window=2) == [
        "new", "stale", "early_change", "late_change", "old", "fresh"
    ]
    assert window.driver_order(names, {}, manifest, current) == names
    assert list(registry.QUERIES) == window.driver_order(
        list(registry._ALL), window.load_evidence(REPO), window.load_manifest(REPO),
        window.fingerprints(registry._ALL),
    )


def test_driver_window_replays_round_16():
    """Fed the evidence through r15 and the fingerprints of the r16 code,
    the computed window holds every r13-green row (the staleness bound),
    fills the rest with changed rows, and matches the hand-rotated r16
    window in at least 49 of its 50 names."""
    from kafka_connect_storage_cloud_formats_spark.queries import window

    first, green, past, current = _replay(15)
    bound = {n for n in green if green[n] == 13}
    assert len(bound) == 34 and bound <= set(first)
    for n in set(first) - bound:
        assert window.change_round(n, green[n], past, current) is not None, n
    assert len(set(first) & set(json.load(open(os.path.join(REPO, "CORRECTNESS_r16.json"))))) >= 49


def test_driver_window_replays_round_17():
    """Fed the evidence through r16 and the current code, the window holds
    every r14-green row and the 12 rows that changed in r16 without a
    driver sample, ahead of rows changed later."""
    from kafka_connect_storage_cloud_formats_spark.queries import registry, window

    first, green, _, _ = _replay(16, window.fingerprints(registry._ALL))
    assert {n for n in green if green[n] == 14} <= set(first)
    changed_in_r16 = {
        "ivf_kmeans_topk_upserted", "ivf_kmeans_topk_upserted2", "ivf_kmeans_recall_nprobe4",
        "ivfpq_topk_upserted", "ivfpq_recall_upserted", "ivfpq_residual_topk",
        "ivfpq_residual_recall_at_10", "ivfpq_residual_topk_upserted",
        "ivfpq_residual_recall_upserted", "sq8_topk", "sq8_recall_at_10", "scrub_repeated_ngrams",
    }
    assert changed_in_r16 <= set(first), sorted(changed_in_r16 - set(first))


def test_query_fingerprints_ignore_hash_seed():
    """Fingerprints are the same in processes with different string-hash
    seeds (the manifest is compared across processes)."""
    import subprocess
    import sys

    from kafka_connect_storage_cloud_formats_spark.queries import registry

    code = (
        "import json; from kafka_connect_storage_cloud_formats_spark.queries import registry, window; "
        "print(json.dumps(window.fingerprints(registry._ALL)))"
    )
    runs = [
        json.loads(subprocess.run(
            [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout.strip().splitlines()[-1])
        for seed in ("1", "2")
    ]
    assert len(runs[0]) == len(registry.QUERIES) and runs[0] == runs[1]


def test_fingerprint_manifest_covers_every_last_green_round():
    """A query's change is detected against the code of its last green
    round, so that round must have a manifest entry."""
    from kafka_connect_storage_cloud_formats_spark.queries import window

    recorded = set(window.load_manifest(REPO))
    missing = sorted(set(window.last_green(window.load_evidence(REPO)).values()) - recorded)
    assert not missing, (
        f"FINGERPRINTS.json has no entry for round(s) {missing}; record the code the driver "
        "ran with: python3 kafka_connect_storage_cloud_formats_spark/queries/window.py "
        "<round> [<checkout of that round>]"
    )


def test_no_query_lacks_driver_evidence_in_every_round():
    """Every registered query must have a driver row in SOME recorded
    round, or sit inside the window to earn one."""
    from kafka_connect_storage_cloud_formats_spark.queries import window
    from kafka_connect_storage_cloud_formats_spark.queries.registry import QUERIES

    union_evidence = {n for rows in window.load_evidence(REPO).values() for n in rows}
    if not union_evidence:
        return
    names = list(QUERIES)
    window = set(names[:50])
    orphans = [n for n in names if n not in union_evidence and n not in window]
    assert not orphans, (
        f"queries with no driver row in any round AND outside the window: {orphans}"
    )


def test_every_query_is_oracle_gated():
    """No rows-only exceptions remain: round 6 made approx_profile emit
    exact columns + in-engine tolerance verdicts, so every registered
    query now carries a hash-comparable SQL oracle."""
    from kafka_connect_storage_cloud_formats_spark.queries.registry import QUERIES

    no_oracle = {n for n, (_, sql) in QUERIES.items() if sql is None}
    assert no_oracle == set(), no_oracle


def test_bench_payload_writer_partial_and_final(tmp_path, monkeypatch):
    """bench._write_payload must produce a parseable dual-series document
    from PARTIAL samples (mid-run snapshot after a completed pass — the
    killed-run insurance) and mark it with passes_done; queries not yet
    sampled are omitted rather than KeyError-ing."""
    import json

    import bench

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    samples = {"q1": [0.5, 0.4, 0.6], "q2": [0.2]}
    worker_cpu = {"q1": [0.2, 0.04, 0.05], "q2": [0.0]}
    doc = bench._write_payload(samples, ["q1", "q2", "q3"], passes_done=1, worker_cpu=worker_cpu)
    on_disk = json.load(open(tmp_path / "BENCH.json"))
    assert on_disk == doc
    assert doc["passes_done"] == 1
    assert set(doc["queries"]) == {"q1", "q2"}  # q3 not yet sampled
    assert doc["queries"]["q1"] == 0.4  # min series
    assert doc["queries_trimmed_mean"]["q1"] == 0.45  # drop-worst at n=3
    assert doc["queries_trimmed_mean"]["q2"] == 0.2  # n<3 → plain mean
    assert doc["queries_worker_cpu_s"] == {"q1": 0.04, "q2": 0.0}  # min over trials
    assert bench.python_worker_cpu_s(os.getpid()) >= 0.0
    # final write has no provisional marker
    final = bench._write_payload(samples, ["q1", "q2"])
    assert "passes_done" not in final


def test_prepared_plan_cache_identity_and_exclusions():
    """Read-only queries are served ONE immutable plan per (session,
    corpus) — same object identity on a hit; excluded queries (scratch-dir
    roundtrips, live-build entries) rebuild per call so each execution
    re-runs the work their rows certify/measure."""
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from kafka_connect_storage_cloud_formats_spark import get_spark
    from kafka_connect_storage_cloud_formats_spark.queries import registry

    spark = get_spark("tests")
    sf = "/root/testdata/sf0.001"
    q1 = registry.QUERIES["q1_pricing_summary"][0]
    assert q1(spark, sf) is q1(spark, sf)  # cache hit: identical plan object
    for name in ("ivf_index_build", "orc_ingest_roundtrip"):
        fn = registry.QUERIES[name][0]
        assert fn.__name__ == name  # not wrapped by _prepared
        assert name in registry._SIDE_EFFECT_QUERIES


def test_prepared_plan_cache_invalidates_on_corpus_regeneration(tmp_path):
    """A corpus REGENERATED at the same path must rebuild the prepared
    plan (fingerprint revalidation — same contract as the table cache),
    and the rebuilt plan must read the new data."""
    import os
    import shutil

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from kafka_connect_storage_cloud_formats_spark import get_spark
    from kafka_connect_storage_cloud_formats_spark.queries import registry

    spark = get_spark("tests")
    src = "/root/testdata/sf0.001"
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for t in ("orders",):
        shutil.copy(f"{src}/{t}.parquet", corpus / f"{t}.parquet")

    fn = registry.QUERIES["orders_rollup"][0]
    df1 = fn(spark, str(corpus))
    rows1 = df1.collect()
    assert fn(spark, str(corpus)) is df1  # stable corpus → cache hit

    # regenerate: halve the orders table at the same path
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}/orders.parquet') "
        f"WHERE o_orderkey % 2 = 0) TO '{corpus}/orders.parquet' (FORMAT PARQUET)"
    )
    df2 = fn(spark, str(corpus))
    assert df2 is not df1  # fingerprint moved → rebuilt plan
    assert df2.collect() != rows1  # and it reads the regenerated data


def test_prepared_plan_cache_serves_aligned_session_clones():
    """spark.newSession() clones share the applicationId and (by the same
    contract as catalog._TABLE_CACHE, which underlies every plan here)
    the prepared-plan cache. An ALIGNED clone (apply_session_confs) gets
    the shared plan and identical results; a conf-divergent clone (non-UTC
    timezone) bypasses the cache into the builders' own loud guards."""
    import os

    import pytest

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from kafka_connect_storage_cloud_formats_spark import get_spark
    from kafka_connect_storage_cloud_formats_spark.queries import registry
    from kafka_connect_storage_cloud_formats_spark.session import apply_session_confs

    spark = get_spark("tests")
    sf = "/root/testdata/sf0.001"
    fn = registry.QUERIES["q13_order_count_distribution"][0]
    df1 = fn(spark, sf)
    clone = apply_session_confs(spark.newSession())
    df2 = fn(clone, sf)
    assert df2 is df1  # aligned clone: shared plan, same contract as load_table
    assert sorted(map(tuple, df2.collect())) == sorted(map(tuple, df1.collect()))

    # divergent clone: the wrapper must NOT serve the cache; the events
    # builders raise loudly on a non-UTC session
    bad = spark.newSession()
    bad.conf.set("spark.sql.session.timeZone", "America/New_York")
    ev_fn = registry.QUERIES["events_latest_per_user"][0]
    with pytest.raises(Exception, match="UTC|timeZone|timezone"):
        ev_fn(bad, sf).collect()


def test_readme_query_count_matches_registry():
    """Docs-staleness guard (round 12: the registry count went 104 → 111
    in one round and stale copies of the number were caught three times
    in review): README's headline count must equal len(QUERIES)."""
    import os
    import re

    from kafka_connect_storage_cloud_formats_spark.queries.registry import QUERIES

    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")
    ).read()
    m = re.search(r"(\d+) registered queries", readme)
    assert m, "README must state the registered-query count"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} registered queries but the registry has "
        f"{len(QUERIES)} — update the README (and SURVEY §2.4 if stale)"
    )
