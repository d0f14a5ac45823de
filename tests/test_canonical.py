"""Canonical scalars, path reconstruction, recursive unpack, P/R gate."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from guac_spark import canonical, graph, unpack
from tests.conftest import extraction_scans


def test_entity_id_roundtrip(spark):
    df = spark.createDataFrame(
        [("ent:person/ada-lovelace",), ("ent:topic/topic_3",),
         ("turn:conv-00001-2:5",), ("garbage",)],
        "canonical string",
    )
    out = canonical.canonicalize_vertices(df).collect()
    by = {r["canonical"]: r for r in out}
    assert by["ent:person/ada-lovelace"]["parsed"]["kind"] == "person"
    assert by["ent:person/ada-lovelace"]["parsed"]["name"] == "ada-lovelace"
    assert by["turn:conv-00001-2:5"]["parsed"]["scheme"] == "turn"
    assert by["garbage"]["parsed"] is None
    # rebuild inverts parse for ent ids
    rebuilt = (
        df.filter(F.col("canonical").startswith("ent:"))
        .withColumn("p", canonical.parse_entity_id("canonical"))
        .withColumn(
            "again", canonical.build_entity_id(F.col("p.kind"), F.col("p.name"))
        )
    )
    assert all(r["canonical"] == r["again"] for r in rebuilt.collect())


def test_sentinel_and_fallback_and_artifact_key(spark):
    df = spark.createDataFrame([("", "x y/Z!",)], "empty string, messy string")
    row = df.select(
        canonical.build_entity_id(F.lit("person"), F.col("empty")).alias("s"),
        canonical.fallback_entity_id("messy").alias("f"),
        canonical.artifact_key(F.lit("SHA256"), F.lit("ABCDEF")).alias("a"),
    ).first()
    assert row["s"] == f"ent:person/{canonical.EMPTY_SENTINEL}"
    assert row["f"] == "ent:unk/x-y-z-"
    assert row["a"] == "sha256:abcdef"


def test_qualifier_sorting_is_canonical(spark):
    df = spark.createDataFrame(
        [({"b": "2", "a": "1", "c": "3"},), ({"c": "3", "a": "1", "b": "2"},)],
        "q map<string,string>",
    )
    vals = [r[0] for r in df.select(canonical.canonical_qualifiers("q")).collect()]
    assert vals == ["a=1&b=2&c=3", "a=1&b=2&c=3"]


def test_qualified_identity_roundtrip_and_trie(spark):
    """Qualifiers enter identity sorted and parse back out — the
    package-trie version level (VERDICT r2 missing #1)."""
    df = spark.createDataFrame([("tool", "vec_db")], "k string, n string")
    quals = F.map_from_arrays(
        F.array(F.lit("v"), F.lit("arch")), F.array(F.lit("2"), F.lit("x86"))
    )
    row = df.select(
        canonical.build_entity_id("k", "n", quals).alias("c"),
        canonical.build_entity_id(
            "k", "n",
            F.map_from_arrays(
                F.array().cast("array<string>"),
                F.array().cast("array<string>"),
            ),
        ).alias("plain"),
    ).collect()[0]
    # keys sorted: arch before v; empty map adds nothing
    assert row["c"] == "ent:tool/vec_db?arch=x86&v=2"
    assert row["plain"] == "ent:tool/vec_db"
    back = (
        spark.createDataFrame([(row["c"],)], "canonical string")
        .select(
            canonical.parse_entity_id("canonical").alias("p"),
            canonical.parse_qualifiers("canonical").alias("q"),
        )
        .collect()[0]
    )
    assert back["p"]["kind"] == "tool" and back["p"]["name"] == "vec_db"
    assert back["q"] == {"arch": "x86", "v": "2"}


def test_versioned_tool_mentions_link_to_version_node(spark):
    """End-to-end trie exercise: 'tool:x@v2' extracts, links to the
    version-level node, lands in vertices with STORED attrs, and the
    filter spec matches on the stored qualifier."""
    from guac_spark import assemble, extract, link

    t = spark.createDataFrame(
        [("c1", 0, "ran tool:vec_db@v2 then tool:vec_db ok"),
         ("c1", 1, "also tool:unknown_thing@v7")],
        "conv_id string, turn_idx int, text string",
    )
    for f in extraction_scans(t).values():
        m = extract.mentions_only(f)
        got = {r["surface"] for r in m.filter("kind='tool'").collect()}
        assert got == {"vec_db@v2", "vec_db", "unknown_thing@v7"}
    adict = spark.createDataFrame(
        [("vec_db", "ent:tool/vec_db", "tool", 1.0)],
        "alias string, entity_id string, kind string, prior double",
    )
    linked = link.link_exact(extract.extract_mentions_fused(t), adict)
    ids = {r["surface"]: r["entity_id"]
           for r in linked.filter("kind='tool'").collect()}
    assert ids["vec_db"] == "ent:tool/vec_db"
    assert ids["vec_db@v2"] == "ent:tool/vec_db?v=2"  # version-level node
    assert ids["unknown_thing@v7"] == "ent:unk/unknown_thing@v7"  # miss
    # assembly stores attrs incl. the parsed qualifier
    triples = spark.createDataFrame(
        [("c1", 0, "turn:c1:0", "uses_tool", "ent:tool/vec_db?v=2"),
         ("c1", 0, "turn:c1:0", "uses_tool", "ent:tool/vec_db")],
        "conv_id string, turn_idx int, subj string, pred string, obj string",
    )
    verts = assemble.vertices(triples)
    by = {r["canonical"]: r["attrs"] for r in verts.collect()}
    assert by["ent:tool/vec_db?v=2"] == {
        "ns": "tool", "name": "vec_db", "v": "2"
    }
    assert by["ent:tool/vec_db"] == {"ns": "tool", "name": "vec_db"}
    assert by["turn:c1:0"] == {}
    hit = graph.filter_vertices_spec(verts, attrs_subset={"v": "2"}).collect()
    assert [r["canonical"] for r in hit] == ["ent:tool/vec_db?v=2"]
    empty = graph.filter_vertices_spec(verts, match_only_empty_attrs=True)
    assert {r["canonical"] for r in empty.collect()} == {"turn:c1:0"}


def test_shortest_path_nodes_deterministic(spark, gate_sides):
    rows = [("e%d" % i, s, d, "x", "c", "c:0") for i, (s, d) in enumerate(
        [("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c"), ("c", "d")]
    )]
    e = spark.createDataFrame(
        rows,
        "edge_id string, src string, dst string, pred string, "
        "origin string, document_ref string",
    )
    for side in gate_sides:
        # two shortest paths a->c; min-parent rule must pick b1 every time
        assert graph.shortest_path_nodes(e, "a", "d") == [
            "a", "b1", "c", "d"], side
        assert graph.shortest_path_nodes(e.repartition(5), "a", "d") == [
            "a", "b1", "c", "d"
        ], side
        assert graph.shortest_path_nodes(e, "a", "zzz") is None, side


def _embed(text: str) -> str:
    return "[[doc:" + base64.b64encode(text.encode()).decode() + "]]"


def test_codec_sniff_decode_bz2_zstd_passthrough(spark):
    import bz2 as _bz2

    import pyarrow as pa

    plain = b"plain text document"
    bz = _bz2.compress(b"bzip2 payload")
    zs = pa.compress(b"zstd payload " * 50, codec="zstd", asbytes=True)
    df = spark.createDataFrame(
        [(1, bytearray(plain)), (2, bytearray(bz)), (3, bytearray(zs))],
        "doc_id int, blob binary",
    )
    out = {r["doc_id"]: r["text"]
           for r in unpack.decode_encoded(df, "blob", "text").collect()}
    assert out[1] == "plain text document"
    assert out[2] == "bzip2 payload"
    assert out[3] == "zstd payload " * 50


def test_zstd_frame_content_size_parse():
    import pyarrow as pa

    for n in (1, 100, 300, 70_000):
        buf = pa.compress(b"a" * n, codec="zstd", asbytes=True)
        assert unpack._zstd_frame_content_size(buf) == n


def test_recursive_unpack(spark):
    leaf = "just a leaf"
    mid = "middle " + _embed(leaf)
    top = "top " + _embed(mid) + " " + _embed("another leaf")
    docs = spark.createDataFrame(
        [(1, top), (2, "no children")], "doc_id long, text string"
    )
    out = unpack.unpack_documents(docs)
    rows = {(r["root_id"], r["depth"], r["text"]) for r in out.collect()}
    assert (1, 1, mid) in rows
    assert (1, 2, leaf) in rows
    assert (1, 1, "another leaf") in rows
    assert (2, 0, "no children") in rows
    assert len(rows) == 5


def test_unpack_cycle_guard(spark):
    # self-embedding document: dedup by content hash terminates the walk
    inner = "repeat me"
    doc = inner + " " + _embed(inner) + " " + _embed(inner)
    docs = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    out = unpack.unpack_documents(docs).collect()
    assert len(out) == 2  # root + one deduped child


def test_triple_pr_gate_vs_oracle(spark, duck_small):
    """The explicit P/R >= 0.95 gate (north rule) — exact at fixture scale."""
    import __spark_entry__ as E
    from tests.conftest import SF_SMALL

    got = {
        tuple(r)
        for r in E.queries()["q_triples"](spark, SF_SMALL).collect()
    }
    want = {
        tuple(r)
        for r in duck_small.execute(E.oracle_sql()["q_triples"]).fetchall()
    }
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0  # exact at fixture scale
