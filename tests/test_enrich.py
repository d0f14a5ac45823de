"""Enrichment loop convergence + graph delete (certifier / delete analogs)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from guac_spark import enrich
from guac_spark.pipeline import run_pipeline
from guac_spark.warehouse import Warehouse
from tests.conftest import SF_SMALL


def test_enrichment_converges_and_is_idempotent(spark):
    root = tempfile.mkdtemp(prefix="wh_enrich_")
    run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)
    e0 = wh.read(spark, "edges").count()
    base_snap = wh.committed_snapshot("edges")

    n1 = enrich.run_enrichment(spark, root)
    assert n1 == 25  # every person entity enriched once
    full = enrich.edges_with_evidence(spark, wh)
    assert full.count() == e0 + n1
    preds = {r["pred"] for r in full.select("pred").distinct().collect()}
    assert enrich.ENRICH_PRED in preds

    # append-only: the base edges table was NOT rewritten — a round costs
    # O(new evidence), independent of graph size
    assert wh.committed_snapshot("edges") == base_snap
    assert wh.read(spark, "edges").count() == e0

    # second pass: converged, nothing re-enriched, graph unchanged
    n2 = enrich.run_enrichment(spark, root)
    assert n2 == 0
    assert enrich.edges_with_evidence(spark, wh).count() == e0 + n1

    # provenance separates enrichment evidence from extraction evidence
    assert full.filter("origin = 'enricher'").count() == n1


def test_deferred_commit_is_atomic_across_tables(spark):
    """Prepared writes are invisible until commit_pending flips the log
    once for ALL tables — the crash window between the enrichment
    evidence and ledger commits (ADVICE r2) no longer exists."""
    root = tempfile.mkdtemp(prefix="wh_atomic_")
    wh = Warehouse(root)
    df1 = spark.range(5).select(F.col("id").alias("a"))
    df2 = spark.range(7).select(F.col("id").alias("b"))
    p1 = wh.append_snapshot(df1, "t1", defer_commit=True)
    p2 = wh.append_snapshot(df2, "t2", defer_commit=True)
    # data written, nothing committed: a crash here leaves both absent
    assert not wh.has("t1") and not wh.has("t2")
    wh.commit_pending([p1, p2])
    assert wh.read(spark, "t1").count() == 5
    assert wh.read(spark, "t2").count() == 7
    assert wh.committed_rows("t1") == 5 and wh.committed_rows("t2") == 7


def test_concurrent_same_table_writers_get_distinct_snapshots(spark):
    """Snapshot ids are reserved under the lock (ADVICE r2): two threads
    writing the SAME table never collide on a snap directory."""
    import threading

    root = tempfile.mkdtemp(prefix="wh_reserve_")
    wh = Warehouse(root)
    errs = []

    def write(n):
        try:
            wh.append_snapshot(
                spark.range(n).select(F.col("id").alias("v")), "t"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=write, args=(n,)) for n in (3, 4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert wh.committed_rows("t") == 7  # both appends landed, no clobber
    assert wh.read(spark, "t").count() == 7


def test_evidence_appends_are_o_of_new(spark):
    """Each enrichment round writes only its new rows; the evidence table
    snapshot accumulates directories instead of rewriting."""
    root = tempfile.mkdtemp(prefix="wh_enrich2_")
    run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)
    enrich.run_enrichment(spark, root)
    p1 = wh.committed_paths(enrich.EVIDENCE_TABLE)
    assert len(p1) == 1
    # widen the enrichment universe: topics now pending -> second append
    todo = enrich.pending_entities(spark, wh, kinds=("topic",))
    n_topics = todo.count()
    assert n_topics > 0
    import guac_spark.enrich as en

    orig = en.pending_entities
    en.pending_entities = lambda s, w, kinds=("person",): orig(
        s, w, kinds=("topic",)
    )
    try:
        n2 = enrich.run_enrichment(spark, root)
    finally:
        en.pending_entities = orig
    assert n2 == n_topics
    p2 = wh.committed_paths(enrich.EVIDENCE_TABLE)
    # append snapshot references the prior directory + exactly one new one
    assert p2[: len(p1)] == p1 and len(p2) == len(p1) + 1
    ev = wh.read(spark, enrich.EVIDENCE_TABLE)
    assert ev.count() == 25 + n_topics
    assert ev.select("edge_id").distinct().count() == 25 + n_topics


def test_append_with_another_schema_raises(spark):
    """One snapshot is read with one schema: an append whose columns or
    types differ from the committed entry's raises before it writes or
    reserves anything; nullability alone does not count."""
    import os

    import pytest

    root = tempfile.mkdtemp(prefix="wh_append_schema_")
    wh = Warehouse(root)
    wh.write_snapshot(
        spark.createDataFrame([("a", 1)], "k string, v int"), "t"
    )
    extra_col = spark.createDataFrame([("b", 2, 3)], "k string, v int, w int")
    retyped = spark.createDataFrame([("b", 2)], "k string, v long")
    for bad in (extra_col, retyped):
        with pytest.raises(ValueError, match="append to 't'"):
            wh.append_snapshot(bad, "t")
    assert wh.committed_paths("t") == [wh.table_path("t", 1)]
    assert not os.path.exists(wh.table_path("t", 2))
    assert wh._read_log().get("reserved", {}) == {}
    # non-nullable literals append onto the nullable committed columns
    wh.append_snapshot(spark.range(1).selectExpr("'c' AS k", "3 AS v"), "t")
    assert sorted(wh.read(spark, "t").collect()) == [("a", 1), ("c", 3)]


def test_merge_upsert_latest_wins_and_compacts(spark):
    """Merge-on-read upsert: base untouched, reads resolve latest-wins,
    compaction folds back — the Iceberg MERGE INTO verb pair."""
    import tempfile

    root = tempfile.mkdtemp(prefix="wh_merge_")
    wh = Warehouse(root)
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int"
    )
    wh.write_snapshot(base, "t")
    base_snap = wh.committed_snapshot("t")

    wh.merge_upsert(
        spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int"), "t"
    )
    # base snapshot untouched — the write was O(upserted rows)
    assert wh.committed_snapshot("t") == base_snap
    got = {r["k"]: r["v"] for r in wh.read_merged(spark, "t", ["k"]).collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "d": 40}

    # second round overrides the first (latest commit wins)
    wh.merge_upsert(
        spark.createDataFrame([("b", 200)], "k string, v int"), "t"
    )
    got = {r["k"]: r["v"] for r in wh.read_merged(spark, "t", ["k"]).collect()}
    assert got["b"] == 200 and len(got) == 4

    # compaction folds upserts into a fresh base and retires the companion
    wh.compact_merged(spark, "t", ["k"])
    assert not wh.has("t__upserts")
    plain = {r["k"]: r["v"] for r in wh.read(spark, "t").collect()}
    assert plain == got
    assert "_seq" not in wh.read(spark, "t").columns


def test_delete_vertex_cascades_edges(spark):
    root = tempfile.mkdtemp(prefix="wh_del_")
    run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)
    target = "ent:person/grace-hopper"
    # enrich first so the delete must cascade into evidence too
    enrich.run_enrichment(spark, root)
    before = enrich.edges_with_evidence(spark, wh)
    incident = before.filter(
        (F.col("src") == target) | (F.col("dst") == target)
    ).count()
    assert incident > 0
    n_v, n_e = wh.delete_vertices(spark, [target])
    assert (n_v, n_e) == (1, incident)
    after = enrich.edges_with_evidence(spark, wh)
    assert after.filter(
        (F.col("src") == target) | (F.col("dst") == target)
    ).count() == 0
    # pre-delete snapshot still on disk (time travel)
    assert wh.committed_snapshot("edges") >= 2


def test_token_bucket_caps_rate():
    # deterministic clock: no sleeps in CI, exact arithmetic
    from guac_spark.enrich import _TokenBucket

    clock = {"t": 0.0}
    b = _TokenBucket(rate=10.0, burst=2.0)
    b._now = lambda: clock["t"]
    slept = []

    def fake_sleep(s):
        slept.append(s)
        clock["t"] += s

    b._sleep = fake_sleep
    b.tokens, b.t = 2.0, 0.0
    for _ in range(6):
        b.take()
    # burst of 2 free, 4 more refill at 10/s -> >= 0.4s simulated wait
    assert abs(clock["t"] - 0.4) < 1e-6


def test_live_enrichment_rate_capped_and_converges(spark):
    # live (mapInPandas + token bucket) must emit the exact evidence the
    # offline scorer does, while issuing requests no faster than rps
    import time

    root = tempfile.mkdtemp(prefix="wh_live_")
    run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)
    todo = enrich.pending_entities(spark, wh).repartition(1)
    n = todo.count()
    assert n >= 20
    offline = sorted(
        map(tuple, enrich.enrich_batch(todo).collect())
    )
    rps = 200.0
    t0 = time.monotonic()
    live = sorted(
        map(tuple, enrich.enrich_batch_live(todo, rps=rps).collect())
    )
    elapsed = time.monotonic() - t0
    assert live == offline  # identical evidence -> identical convergence
    # single partition, burst 1: n requests need >= (n-1)/rps seconds
    assert elapsed >= (n - 1) / rps
    # and the full loop accepts the live enricher unchanged
    assert enrich.run_enrichment(
        spark, root, enricher=lambda e: enrich.enrich_batch_live(e, rps=500.0)
    ) == n
    assert enrich.run_enrichment(spark, root) == 0  # converged
