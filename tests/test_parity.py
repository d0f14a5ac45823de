"""Driver-style correctness gate: every queries() entry vs its DuckDB oracle.

Mirrors what the driver does at sf=0.01 (we run sf=0.001 for speed; the
semantics are scale-free): run the Spark query and the oracle SQL on the
same parquet views, normalize (sort columns by name, stringify, sort rows),
and require identical multisets.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL, normalize_rows

import __spark_entry__ as entry_mod


def _oracle_names():
    return sorted(entry_mod.oracle_sql().keys())


def _check_oracle(spark, duck_small, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_SMALL)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    cur = duck_small.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    s = normalize_rows(spark_cols, spark_rows)
    d = normalize_rows(duck_cols, duck_rows)
    assert len(s) == len(d), f"{name}: row count {len(s)} vs {len(d)}"
    if s != d:
        diff_s = [r for r in s if r not in set(map(tuple, d))][:5]
        diff_d = [r for r in d if r not in set(map(tuple, s))][:5]
        raise AssertionError(
            f"{name}: value mismatch.\nonly-spark: {diff_s}\nonly-duck: {diff_d}"
        )


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, duck_small, name):
    _check_oracle(spark, duck_small, name)


@pytest.mark.parametrize("name", ["q_bfs", "q_path", "q_toposort",
                                  "q_vuln_reach"])
def test_traversal_matches_oracle_distributed(spark, duck_small,
                                              distributed, name):
    """The traversal queries past graph's driver gate (every test-scale
    edge relation passes it)."""
    _check_oracle(spark, duck_small, name)


@pytest.mark.parametrize("name", ["q_ann_topk", "q_ann_lsh", "q_ann_ivf",
                                  "q_embed_neardup", "q_doc_minhash_pairs",
                                  "q_doc_dedup_clusters"])
def test_vector_query_matches_oracle_distributed(spark, duck_small,
                                                 distributed, name):
    """The embedding searches and the MinHash near-dup queries past the
    same driver gate (every test-scale embedding and shingle relation
    passes it)."""
    _check_oracle(spark, duck_small, name)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return sane rows."""
    qs = entry_mod.queries()
    oracled = set(entry_mod.oracle_sql())
    for name in sorted(set(qs) - oracled):
        df = qs[name](spark, SF_SMALL)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_gate_sides_return_one_schema(spark, gate_sides):
    """Every op behind the one driver gate (cc.driver_edges) returns the
    same schema on both sides: names, types and nullability."""
    from guac_spark import cc

    qs = entry_mod.queries()
    ops = {
        name: (lambda name=name: qs[name](spark, SF_SMALL))
        for name in ("q_bfs", "q_path", "q_toposort", "q_ann_topk",
                     "q_ann_lsh", "q_ann_ivf", "q_embed_neardup",
                     "q_doc_minhash_pairs", "q_doc_dedup_clusters")
    }
    ops["connected_components"] = lambda: cc.connected_components(
        entry_mod._ctx(spark, SF_SMALL)["edges"])
    schemas = {}
    for side in gate_sides:
        schemas[side] = {name: op().schema for name, op in ops.items()}
    for name in ops:
        assert schemas["driver"][name] == schemas["distributed"][name], name
