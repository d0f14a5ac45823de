"""Benchmark harness — prints ONE JSON line for the driver.

  python bench.py                       # headline at $SPARK_GRAFT_SF_DIR
  SPARK_GRAFT_CPUS=8 python bench.py    # same job at lower parallelism
  SPARK_GRAFT_REPL=8 python bench.py    # replicate corpus 8x (scaling runs)

Headline metric: end-to-end KG construction (read events -> derive
transcripts -> extract -> link -> CC -> materialize vertices/edges) wall
seconds and triples/sec, plus per-query seconds for the graph/query surface
and training-data ops. Scaling evidence for BENCH/BASELINE.md: run with
SPARK_GRAFT_CPUS=8 and =32 at the same SPARK_GRAFT_REPL and compare
throughput (local[8] vs local[32] stands in for N vs 4N executors).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from guac_spark import graph, oracle, pipeline  # noqa: E402
from guac_spark.session import get_spark  # noqa: E402
from guac_spark.textops import dedup, quality, similarity  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPL = int(os.environ.get("SPARK_GRAFT_REPL", "1"))

# Scratch space: tmpfs when available. On a real cluster every executor
# brings its own disks, so I/O bandwidth scales with the executor count;
# on this single box the disk is a fixed resource local[8] and local[32]
# share, which would corrupt the N-vs-4N scaling comparison. tmpfs makes
# table I/O scale with cores the way cluster disks would.
_DEF_TMP = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
TMPDIR = os.environ.get("SPARK_GRAFT_TMPDIR", _DEF_TMP)


def replicate_events(spark, sf_dir: str, repl: int, out_dir: str) -> str:
    """Deterministically replicate the events table repl× with disjoint
    user/event id spaces (scales conversations, preserves skew shape),
    written once so every run reads identical input."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )
        for i in range(repl)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    path = os.path.join(out_dir, "events.parquet")
    # constant file count: both parallelism levels read identical input
    big.repartition(64).write.mode("overwrite").parquet(path)
    return out_dir


def _wh_rows(wh_root: str, table: str) -> int | None:
    from guac_spark.warehouse import Warehouse

    try:
        return Warehouse(wh_root).committed_rows(table)
    except Exception:  # noqa: BLE001 — observability only
        return None


def main() -> None:
    # replicate-and-exit mode: write the replicated corpus to a shared
    # directory (scaling legs then read it via SPARK_GRAFT_SF_DIR) —
    # replication is input prep, not part of any measured leg
    repl_only_dir = os.environ.get("SPARK_GRAFT_REPLICATE_ONLY")
    if repl_only_dir:
        spark = get_spark(app_name="guac_bench_replicate", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        os.makedirs(repl_only_dir, exist_ok=True)
        replicate_events(spark, SF_DIR, REPL, repl_only_dir)
        print(json.dumps({"replicated": repl_only_dir, "repl": REPL}))
        spark.stop()
        return

    tmp = tempfile.mkdtemp(prefix="guac_bench_", dir=TMPDIR)
    spark = get_spark(
        app_name=f"guac_bench_c{CPUS}",
        cpus=CPUS,
        extra_conf={"spark.local.dir": os.path.join(tmp, "scratch")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = SF_DIR
    try:
        if REPL > 1:
            sf_dir = replicate_events(spark, SF_DIR, REPL, tmp)

        # --- end-to-end pipeline (fresh warehouse every run) -------------
        wh = os.path.join(tmp, "wh")
        t0 = time.time()
        res = pipeline.run_pipeline(spark, sf_dir, warehouse_root=wh,
                                    resume=False)
        pipe_sec = time.time() - t0
        n_triples = res.triples
        n_turns = res.turns

        tables = res.tables
        queries = {} if os.environ.get("SPARK_GRAFT_PIPELINE_ONLY") else {
            "q_neighbors": lambda: graph.neighbors(
                tables["edges"], tables["vertices"], oracle.SEED_ENTITY
            ).count(),
            "q_bfs3": lambda: graph.bfs_distances(
                tables["edges"], oracle.SEED_ENTITY, max_hops=3
            ).count(),
            "q_topdeps": lambda: graph.top_dependents(
                tables["edges"], k=10
            ).count(),
            "q_toposort": lambda: graph.toposort_levels(
                tables["edges"]
            ).count(),
            "q_conv_rollup": lambda: graph.conversation_rollup(
                tables["edges"]
            ).count(),
            "q_known": lambda: graph.known(
                tables["edges"], oracle.CELEB_ENTITY
            ).count(),
        }
        if REPL == 1 and not os.environ.get("SPARK_GRAFT_PIPELINE_ONLY"):
            docs = dedup.load_documents(spark, SF_DIR)
            emb = similarity.load_embeddings(spark, SF_DIR)
            queries.update(
                {
                    "q_doc_dedup_exact": lambda: dedup.exact_dedup(
                        dedup.staged_documents(docs)
                    ).count(),
                    "q_doc_minhash_pairs": lambda: dedup.minhash_pairs(
                        dedup.staged_documents(docs), 0.7
                    ).count(),
                    "q_ann_topk": lambda: similarity.ann_topk_bruteforce(
                        emb, [0, 1, 2, 3, 4], 5
                    ).count(),
                    "q_embed_neardup": lambda: similarity.cosine_near_pairs_lsh(
                        similarity.staged_embeddings(emb), 0.99
                    ).count(),
                    "q_ann_lsh": lambda: similarity.ann_topk_lsh(
                        emb, [0, 1, 2, 3, 4], 5
                    ).count(),
                    "q_ann_ivf": lambda: similarity.ann_topk_ivf(
                        emb, [0, 1, 2, 3, 4], 5, nprobe=3
                    ).count(),
                    "q_token_stats": lambda: quality.token_stats(docs).count(),
                    "q_quality": lambda: quality.quality_score(docs).count(),
                }
            )
        q_secs: dict[str, float] = {}
        for name, fn in queries.items():
            t = time.time()
            fn()
            q_secs[name] = round(time.time() - t, 3)

        total = pipe_sec + sum(q_secs.values())
        print(
            json.dumps(
                {
                    "metric": "e2e_kg_construct_sec",
                    "value": round(pipe_sec, 3),
                    "unit": "sec",
                    "queries": q_secs,
                    "sf": SF_DIR,
                    "cpus": CPUS,
                    "repl": REPL,
                    "turns": n_turns,
                    "triples": n_triples,
                    "triples_per_sec": round(n_triples / pipe_sec, 1),
                    "turns_per_sec": round(n_turns / pipe_sec, 1),
                    "total_sec": round(total, 3),
                    "stage_secs": res.stage_secs,
                    # corpus-proportional linking/CC load evidence
                    # (VERDICT r4 missing #1): equivalence-set size and
                    # the distributed-CC per-round frontier/broadcast log
                    # (empty when the driver union-find gate took it)
                    "equivalence_edges": _wh_rows(wh, "equivalences"),
                    "alias_dict_rows": _wh_rows(wh, "alias_dict"),
                    "cc_round_stats": res.cc_round_stats,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
