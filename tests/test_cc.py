"""Connected-components properties: both sides of the driver gate,
determinism."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from guac_spark.cc import (
    _union_find_local, connected_components, driver_edges,
)
from tests.conftest import group_jobs, job_group


def _ref_components(pairs):
    return dict(_union_find_local(pairs))


def test_distributed_equals_unionfind_random(spark, gate_sides):
    rng = random.Random(42)
    nodes = [f"n{i:03d}" for i in range(120)]
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    ref = set(_ref_components(pairs).items())
    for side in gate_sides:
        got = {
            (r["node"], r["component"])
            for r in connected_components(edges).collect()
        }
        assert got == ref, side


def test_driver_side_runs_one_job(spark, tmp_path):
    """Below the gate, the gate's one collect is the whole call: no count
    job decides the side and no distinct job fetches the pairs."""
    pairs = [("a", "b"), ("b", "c"), ("a", "b"), ("x", "y")]
    spark.createDataFrame(pairs, "src string, dst string").write.parquet(
        str(tmp_path / "e"))
    edges = spark.read.parquet(str(tmp_path / "e"))
    with job_group(spark, "cc-driver"):
        m = connected_components(edges)
        assert group_jobs(spark, "cc-driver") == 1
    assert sorted(map(tuple, m.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_gate_collects_in_one_stage(spark):
    """The gate's collect is one job of one stage on a relation of several
    partitions, on both sides of the gate: no single-partition shuffle
    gathers the partitions' first rows before the collect."""
    e = spark.range(0, 200, numPartitions=4).select(
        F.col("id").cast("string").alias("src"),
        (F.col("id") + 1).cast("string").alias("dst"),
    )
    sc = spark.sparkContext
    for limit, n_rows in ((None, 200), (50, None)):
        group = f"gate-{limit}"
        with job_group(spark, group):
            pairs = driver_edges(e, limit)
            assert group_jobs(spark, group) == 1
        assert (None if pairs is None else len(pairs)) == n_rows
        (job,) = sc.statusTracker().getJobIdsForGroup(group)
        assert len(sc.statusTracker().getJobInfo(job).stageIds) == 1


def test_long_chain_converges(spark, distributed):
    # diameter 14 chain — exercises multi-round propagation
    pairs = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(14)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    out = connected_components(edges).collect()
    assert all(r["component"] == "c00" for r in out)
    assert len(out) == 15


def test_deterministic_under_repartition(spark, distributed):
    pairs = [(f"x{i}", f"x{i + 1}") for i in range(10)] + [
        ("a", "b"), ("b", "c"), ("z", "a")
    ]
    e1 = spark.createDataFrame(pairs, "src string, dst string")
    e2 = e1.repartition(7)
    r1 = sorted(map(tuple, connected_components(e1).collect()))
    r2 = sorted(map(tuple, connected_components(e2).collect()))
    assert r1 == r2


def test_hot_key_star_graph(spark, distributed):
    # celebrity star: one hub with 500 spokes (the hot-key case)
    pairs = [("hub", f"s{i:04d}") for i in range(500)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    out = connected_components(edges).collect()
    assert len(out) == 501
    assert all(r["component"] == "hub" for r in out)
