"""Graph query operators: cycles, paths, pagination, keep-latest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guac_spark import graph
from tests.conftest import group_jobs, job_group


def _edges(spark, rows):
    return spark.createDataFrame(
        [(f"e{i}", s, d, p, "c0", "c0:0") for i, (s, d, p) in enumerate(rows)],
        "edge_id string, src string, dst string, pred string, "
        "origin string, document_ref string",
    )


def test_toposort_cycle_raises(spark, gate_sides):
    e = _edges(spark, [("a", "b", "replies_to"), ("b", "c", "replies_to"),
                       ("c", "a", "replies_to")])
    for side in gate_sides:
        with pytest.raises(ValueError, match="cycle"):
            graph.toposort_levels(e)


def test_toposort_dag_levels(spark, gate_sides):
    e = _edges(spark, [("b", "a", "replies_to"), ("c", "b", "replies_to"),
                       ("d", "b", "replies_to"), ("e", "a", "replies_to")])
    for side in gate_sides:
        levels = {r["node"]: r["level"]
                  for r in graph.toposort_levels(e).collect()}
        assert levels == {"a": 0, "b": 1, "e": 1, "c": 2, "d": 2}, side


def test_shortest_path(spark, gate_sides):
    e = _edges(spark, [("a", "b", "x"), ("b", "c", "x"), ("c", "d", "x"),
                       ("a", "z", "y")])
    dia = _edges(spark, [("s", "m2", "x"), ("m2", "t", "x"),
                         ("s", "m1", "x"), ("m1", "t", "x")])
    for side in gate_sides:
        assert graph.shortest_path_nodes(e, "a", "d") == [
            "a", "b", "c", "d"], side
        assert graph.shortest_path_nodes(e, "a", "z") == ["a", "z"], side
        assert graph.shortest_path_nodes(e, "z", "d", max_hops=2) is None
        # pred allowlist (usingOnly analog) blocks the y edge
        assert graph.shortest_path_nodes(
            e, "a", "z", using_only=["x"]) is None, side
        # a node reaches itself by the one-node path (q_path's dist-0
        # chain)
        assert graph.shortest_path_nodes(e, "a", "a") == ["a"], side
        # diamond with two equal-length routes, the larger-named one
        # listed first: the parent is the smallest distance-(d-1)
        # neighbour
        assert graph.shortest_path_nodes(dia, "s", "t") == [
            "s", "m1", "t"], side
        assert graph.shortest_path_nodes(dia, "t", "s") == [
            "t", "m1", "s"], side


def test_bfs_is_min_distance(spark, gate_sides):
    # diamond: two paths of different length to d
    e = _edges(spark, [("a", "b", "x"), ("b", "d", "x"),
                       ("a", "c", "x"), ("c", "e", "x"), ("e", "d", "x")])
    for side in gate_sides:
        d = {r["node"]: r["dist"]
             for r in graph.bfs_distances(e, "a", max_hops=4).collect()}
        assert d["d"] == 2, side
        assert d == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 2}, side
    # gate_sides ends on the distributed side: the lazy last hop keeps
    # no parent aggregate, the (node, dist) projection prunes min(src)
    # out of it
    last = graph.bfs_distances(e, "a", max_hops=1)
    plan = last._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan and "min(" not in plan


def _chain(spark, n):
    return _edges(spark, [(f"n{i}", f"n{i + 1}", "x") for i in range(n)])


def test_distributed_bfs_hop_jobs(spark, distributed):
    """A distributed BFS hop's row count and target test ride its
    checkpoint as observed metrics: each checkpointed hop runs 4 jobs,
    not the 6 a separate count action costs."""
    e = _chain(spark, 8)

    def jobs(hops):
        group = f"bfs-{hops}"
        with job_group(spark, group):
            out = graph.bfs_distances(e, "n0", max_hops=hops)
            out.write.format("noop").mode("overwrite").save()
            return group_jobs(spark, group)

    # max_hops=k checkpoints k-1 hops; the gate probe and the lazy last
    # hop are common to both runs
    assert jobs(3) - jobs(2) == 4


def test_driver_shortest_path_runs_one_job(spark):
    """Below the gate, a shortest path is the one collect of its edge
    relation."""
    e = _chain(spark, 8)
    with job_group(spark, "path-driver"):
        assert graph.shortest_path_nodes(e, "n0", "n4") == [
            "n0", "n1", "n2", "n3", "n4"]
        assert group_jobs(spark, "path-driver") == 1


def test_pagination_covers_all_exactly_once(spark):
    verts = spark.createDataFrame(
        [(f"{i:03d}", "k", f"c{i}") for i in range(57)],
        "vertex_id string, kind string, canonical string",
    )
    seen = []
    after = None
    while True:
        page = graph.page_vertices(verts, after, first=10).collect()
        if not page:
            break
        seen += [r["vertex_id"] for r in page]
        after = page[-1]["vertex_id"]
    assert seen == sorted(seen)
    assert len(seen) == 57 and len(set(seen)) == 57


def test_toposort_grouped_matches_peel_on_conv_local_chains(spark,
                                                          gate_sides):
    # conv-local turn chains: past the driver gate toposort_levels takes
    # the grouped single-pass path; the peel strategy and the driver
    # Kahn pass must give identical levels
    rows = []
    for conv in ("conv-a", "conv-b"):
        for i in range(1, 6):
            rows.append((f"turn:{conv}:{i}", f"turn:{conv}:{i-1}",
                         "replies_to"))
    # a branch: two replies to the same parent
    rows.append(("turn:conv-a:9", "turn:conv-a:2", "replies_to"))
    e = _edges(spark, rows)
    cp = e.select(F.col("src").alias("child"), F.col("dst").alias("parent"))
    grouped = {r["node"]: r["level"]
               for r in graph._toposort_grouped(cp).collect()}
    peel = {r["node"]: r["level"]
            for r in graph._toposort_peel(cp).collect()}
    for side in gate_sides:
        auto = {r["node"]: r["level"]
                for r in graph.toposort_levels(e).collect()}
        assert grouped == peel == auto, side
    assert grouped["turn:conv-a:0"] == 0 and grouped["turn:conv-a:5"] == 5
    assert grouped["turn:conv-a:9"] == 3


def test_filter_spec_attrs_subset_and_empty(spark):
    verts = spark.createDataFrame(
        [("1", "person", "ent:person/ada-lovelace"),
         ("2", "topic", "ent:topic/topic_3"),
         ("3", "turn", "turn:c0:0")],
        "vertex_id string, kind string, canonical string",
    )
    got = graph.filter_vertices_spec(
        verts, attrs_subset={"ns": "person", "name": "ada-lovelace"}
    ).select("vertex_id").collect()
    assert [r["vertex_id"] for r in got] == ["1"]
    # subset semantics: a single matching attr suffices
    got2 = graph.filter_vertices_spec(verts, attrs_subset={"ns": "topic"})
    assert [r["vertex_id"] for r in got2.collect()] == ["2"]
    # non-matching value excludes
    assert graph.filter_vertices_spec(
        verts, attrs_subset={"ns": "person", "name": "x"}
    ).count() == 0
    # matchOnlyEmptyQualifiers analog: only the turn vertex (empty map)
    got3 = graph.filter_vertices_spec(verts, match_only_empty_attrs=True)
    assert [r["vertex_id"] for r in got3.collect()] == ["3"]


def test_find_software_indexed_equals_scan(spark):
    verts = spark.createDataFrame(
        [(f"{i}", "person", f"ent:person/name-{i:03d}") for i in range(40)]
        + [("x", "topic", "ent:topic/lovel-ace")],
        "vertex_id string, kind string, canonical string",
    )
    idx = graph.build_substring_index(verts)
    for q in ("lovel", "name-00", "zzz", "e-1"):
        scan = {tuple(r) for r in graph.find_software(verts, q).collect()}
        via_idx = {tuple(r) for r in
                   graph.find_software_indexed(idx, verts, q).collect()}
        assert scan == via_idx, q


def test_neighbors_page_covers_all_exactly_once(spark):
    e = _edges(spark, [("a", f"n{i}", "mentions") for i in range(23)])
    verts = spark.createDataFrame(
        [(f"{i:03d}", "person", f"n{i}") for i in range(23)]
        + [("900", "person", "a")],
        "vertex_id string, kind string, canonical string",
    )
    seen, after = [], None
    while True:
        page = graph.neighbors_page(e, verts, "a", after, first=7).collect()
        if not page:
            break
        seen += [r["vertex_id"] for r in page]
        after = page[-1]["vertex_id"]
    assert seen == sorted(seen) and len(seen) == 23 == len(set(seen))


def test_page_connection_total_and_next(spark):
    verts = spark.createDataFrame(
        [(f"{i:03d}", "k", f"c{i}") for i in range(25)],
        "vertex_id string, kind string, canonical string",
    )
    edges = spark.createDataFrame(
        [(f"{i:03d}", f"s{i}", f"d{i}", "mentions") for i in range(25)],
        "edge_id string, src string, dst string, pred string",
    )
    for rel, key, connection in (
        (verts, "vertex_id", graph.page_vertices_connection),
        (edges, "edge_id", graph.page_edges_connection),
    ):
        page = connection(rel, after="004", first=10)
        rows = page.collect()
        assert len(rows) == 10
        assert all(r["total_count"] == 25 for r in rows)
        assert all(r["has_next_page"] for r in rows)
        assert rows[0]["end_cursor"] == max(r[key] for r in rows)
        last = connection(rel, after="020", first=10)
        lrows = last.collect()
        assert len(lrows) == 4 and all(not r["has_next_page"] for r in lrows)
        # empty page (cursor past the end): metadata survives as a
        # sentinel row with null row columns (ADVICE r2)
        empty = connection(rel, after="999", first=10)
        erows = empty.collect()
        assert len(erows) == 1
        assert erows[0][key] is None
        assert erows[0]["total_count"] == 25
        assert erows[0]["has_next_page"] is False
        assert erows[0]["end_cursor"] is None


def test_keep_latest_deterministic_ties(spark):
    import datetime
    t = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "a", 10, t), (1, "a", 11, t), (1, "b", 12, t)],
        "user_id int, event_type string, event_id int, ts timestamp",
    )
    out = graph.keep_latest(df, ["user_id", "event_type"], "ts",
                            tiebreak=["event_id"]).collect()
    got = {(r["user_id"], r["event_type"], r["event_id"]) for r in out}
    assert got == {(1, "a", 11), (1, "b", 12)}
