"""Physical-plan audits: the plan we'd want at 100 TB, asserted.

Catalyst gives predicate pushdown / column pruning / broadcast for free
ONLY if the plan is expressed declaratively — these tests pin that the
engine's operators actually produce those plans (a regression here is a
100× regression at scale even when results stay correct).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from guac_spark import corpus, graph
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet_scan(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("event_id", "value")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "IsNotNull(event_type)" in plan or "EqualTo(event_type,click)" in plan


def test_column_pruning_reads_only_needed_columns(spark):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    q = ev.select("event_id", "value")
    plan = _plan(q)
    # ReadSchema must not contain the wide props/event_type columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "props" not in read_schema[0]


def test_whole_stage_codegen_covers_aggregation(spark):
    import contextlib
    import io

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    q = ev.groupBy("event_type").agg(F.sum("value"))
    q.collect()  # AQE finalizes the plan on execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    # '*' prefix marks operators inside a WholeStageCodegen span
    final = buf.getvalue().split("== Initial Plan ==")[0]
    assert "* HashAggregate" in final and "* ColumnarToRow" in final


def test_neighbors_seed_filter_is_pushed(spark):
    import tempfile
    edges = spark.createDataFrame(
        [("e1", "a", "b", "mentions", "c0", "c0:0")],
        "edge_id string, src string, dst string, pred string, "
        "origin string, document_ref string",
    )
    path = tempfile.mkdtemp() + "/edges"
    edges.write.parquet(path)
    e = spark.read.parquet(path)
    v = spark.createDataFrame(
        [("x", "person", "a")], "vertex_id string, kind string, canonical string"
    )
    plan = _plan(graph.neighbors(e, v, "a"))
    assert "PushedFilters" in plan and "src" in plan


def test_embed_neardup_lsh_has_no_cartesian(spark, distributed):
    """Past the driver gate, the near-dup query must never cross-join the
    corpus (VERDICT r1 wrong #1): candidates come from the bucket
    equi-join."""
    from guac_spark.textops import similarity

    emb = similarity.load_embeddings(spark, SF_SMALL)
    q = similarity.cosine_near_pairs_lsh(
        similarity.staged_embeddings(emb), 0.99
    )
    plan = _plan(q)
    assert "Join" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_shingling_is_jvm_side(spark):
    """Shingles must be produced by the codegen'd projection, not Python:
    the Arrow exchange receives (id, shingles), never raw text."""
    from guac_spark.textops import dedup, minhash

    docs = dedup.load_documents(spark, SF_SMALL)
    bands = minhash.band_rows_df(docs, "doc_id", "text")
    plan = _plan(bands)
    assert "regexp_extract_all" in plan  # tokenization inside the scan stage
    assert "MapInPandas" in plan


def test_minhash_pairs_scores_each_candidate_once(spark, distributed):
    """The near-dup verify evaluates the Jaccard once per candidate: the
    threshold filter must not be pushed into the candidate join with its
    own copy of the array intersect. Past the driver gate only: the
    driver side's plan is a local relation."""
    from guac_spark.textops import dedup

    docs = dedup.staged_documents(dedup.load_documents(spark, SF_SMALL))
    plan = _optimized(dedup.minhash_pairs(docs, 0.7))
    assert "Join" in plan, plan
    assert plan.count("array_intersect") == 1, plan


def test_link_tail_verifies_in_the_jvm_after_one_candidate_join(spark):
    """Tail linking crosses the Python boundary only for its two MinHash
    banding passes (one per side): the Jaccard verify is a JVM expression
    (no Arrow/Batch EvalPython), and the three blocking arms meet in ONE
    candidate join."""
    from guac_spark import link

    adict = spark.createDataFrame(
        [("ada-lovelace", "ent:person/ada-lovelace", "person")],
        "alias string, entity_id string, kind string",
    )
    unmatched = spark.createDataFrame([("ada-lovelacee",)], "surface string")
    plan = _plan(link.link_tail(unmatched, adict))
    assert plan.count("MapInPandas") == 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    cands = link.lsh_candidate_pairs(unmatched, adict.select("alias"))
    assert _optimized(cands).count("Join ") == 1, _optimized(cands)


def test_simhash_computed_once_in_pair_plan(spark):
    """simhash_near_pairs must run the simhash mapInPandas exactly once:
    the banded candidates come from ONE bucket groupBy, not four unioned
    self-joins whose dedup depended on exchange reuse (VERDICT r2 #3)."""
    from guac_spark.textops import dedup

    docs = dedup.load_documents(spark, SF_SMALL)
    plan = _plan(dedup.simhash_near_pairs(docs, 8))
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan  # bucket pair-gen, no self-join at all


def test_bucketed_mentions_linked_dedups_without_shuffle(spark):
    """The triples-stage dedup must reuse the bucketed layout of the
    mentions_linked snapshot: no hashpartitioning Exchange above the scan,
    both in the writing session and in one whose catalog lacks the table
    (a later process: the read registers it again from the commit log)."""
    import tempfile

    from guac_spark import assemble, pipeline
    from guac_spark.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="wh_bucketplan_")
    pipeline.run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)

    def triples_plan() -> str:
        linked = wh.read(spark, "mentions_linked")
        mapping = wh.read(spark, "cc_mapping")
        return _plan(assemble.triples_final(linked, mapping))

    in_session = triples_plan()
    # the table is external: dropping it keeps the committed files
    cat = wh._read_log()["tables"]["mentions_linked"]["catalog_table"]
    spark.sql(f"DROP TABLE {cat}")
    assert not spark.catalog.tableExists(cat)
    for plan in (in_session, triples_plan()):
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
        assert "Exchange hashpartitioning" not in plan


def test_conv_buckets_rule():
    """The bucket count is a function of the input's turn count alone:
    monotone, clamped to [1, MAX_BUCKETS], with no parallelism or
    setting among its inputs (so every core count writes one layout)."""
    import inspect

    from guac_spark import pipeline

    assert list(inspect.signature(pipeline.conv_buckets).parameters) == [
        "turns"
    ]
    per = pipeline.TURNS_PER_BUCKET
    sizes = [0, 1, 1_000, per, per + 1, 100_000, 10**6, 2 * 10**6,
             64 * per, 64 * per + 1, 10**9]
    counts = [pipeline.conv_buckets(n) for n in sizes]
    assert counts == sorted(counts)
    assert all(1 <= c <= pipeline.MAX_BUCKETS for c in counts)
    assert counts[:4] == [1, 1, 1, 1] and counts[4] == 2
    assert counts[-3:] == [pipeline.MAX_BUCKETS] * 3


def test_bucketed_snapshots_share_one_count(spark):
    """transcripts, mentions_linked and triples are written with ONE
    bucket count — the one derived from the input footers and stamped in
    the warehouse meta — so the bucket-local consumers line up."""
    import tempfile

    from guac_spark import pipeline
    from guac_spark.warehouse import Warehouse
    from tests.conftest import num_buckets

    root = tempfile.mkdtemp(prefix="wh_nbuckets_")
    pipeline.run_pipeline(spark, SF_SMALL, root)
    want = pipeline.conv_buckets(corpus._events_rows(SF_SMALL))
    assert Warehouse(root).get_meta("conv_buckets") == want
    for t in ["transcripts", "mentions_linked", "triples"]:
        assert num_buckets(spark, root, t) == want, t


def test_corpus_generation_has_no_sort_merge_join(spark):
    t = corpus.transcripts(spark, SF_SMALL)
    plan = _plan(t)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_mention_stream_reaches_bucketed_write_without_exchange(spark):
    """r4 lever: transcripts are bucketed on conv_id at derivation (the
    window's own shuffle pays for the layout), so the extraction+link
    chain that feeds the mentions_linked bucketed write must contain NO
    Exchange at all — r3 shuffled the whole mention stream here via an
    explicit repartition."""
    import tempfile

    from guac_spark import extract, link, pipeline
    from guac_spark.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="wh_nozshuffle_")
    pipeline.run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)
    t = wh.read(spark, "transcripts")
    # the dict is read from its committed snapshot exactly as the pipeline
    # does — deriving it inline would drag the derivation's own (tiny,
    # broadcast-side) distinct exchanges into this plan
    adict = wh.read(spark, "alias_dict")
    linked = link.link_exact(extract.extract_mentions_fused(t), adict)
    plan = _plan(linked)
    # the dictionary BroadcastExchange is expected; no shuffle exchange
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan


def test_vertices_turn_arm_dedups_without_shuffle(spark):
    """r4 lever: with the triples snapshot bucketed on conv_id, the
    vertices turn-ref dedup (95% of vertices) must run with no
    hash-partitioning Exchange — only the (map-side collapsed) entity
    arm may shuffle."""
    import tempfile

    from pyspark.sql import functions as F

    from guac_spark import pipeline
    from guac_spark.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="wh_vertplan_")
    pipeline.run_pipeline(spark, SF_SMALL, root)
    wh = Warehouse(root)
    triples = wh.read(spark, "triples")
    is_turn_obj = F.col("obj").startswith("turn:")
    turn_arm = (
        triples.select(
            "conv_id",
            F.explode(
                F.array(F.col("subj"), F.when(is_turn_obj, F.col("obj")))
            ).alias("canonical"),
        )
        .filter(F.col("canonical").isNotNull())
        .dropDuplicates(["conv_id", "canonical"])
    )
    plan = _plan(turn_arm)
    assert "Exchange hashpartitioning" not in plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan


def test_ivf_assignment_broadcasts_and_avoids_window(spark):
    """The IVF inverted-list assignment must be corpus x broadcast(nlist
    centroids) with a plain algebraic-max argmax: no Window operator (a
    per-vec_id window would sort-shuffle nlist x the corpus) and exactly
    ONE corpus-keyed hash exchange — the argmax groupBy, whose partial
    aggregation ships one row per vector. (The centroid build upstream
    contributes two more exchanges, but those carry label/dim
    aggregates — nlist x ndim rows after map-side collapse, not corpus
    rows.)"""
    from guac_spark.textops import similarity

    emb = similarity.load_embeddings(spark, SF_SMALL)
    cent = similarity.ivf_centroids(emb)
    assigned = similarity.ivf_assign(emb, cent)
    plan = _plan(assigned)
    assert "Window" not in plan
    assert "Broadcast" in plan  # centroids arrive as a broadcast relation
    corpus_ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(vec_id" in ln
    ]
    assert len(corpus_ex) == 1, plan


def test_alias_dict_derivation_is_one_events_scan(spark):
    """The linking-dictionary derivation must read events ONCE: the
    distinct generated pids and distinct topic keys come from a single
    GROUPING SETS pass (Expand + one partial-aggregated shuffle), not
    two separate DISTINCT scans — measured ~20-24% of the stage at
    25.6M rows (NOTES_r5)."""
    q = corpus.alias_dict(spark, SF_SMALL)
    plan = _plan(q)
    assert plan.count("events.parquet") == 1, plan
    assert "Expand" in plan
