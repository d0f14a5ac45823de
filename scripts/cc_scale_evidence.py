"""Scale evidence for the distributed connected-components path.

VERDICT r1 item 7: the distributed label-propagation fallback (cc.py) had only
run on small synthetic graphs. This script (a) proves output identity
against exact union-find at a verification size, and (b) times the
distributed path (driver_threshold=0) on a multi-million-edge equivalence
graph with heavy skew — the shape CC would see if the alias universe grew
with the corpus.

Note on the corpus replicas: replicate_events scales conversations, not
the alias inventory, so the real pipeline's equivalence set stays ~75
edges at any replication — which is exactly WHY the driver-side union-find
is the right default (equivalence set ≪ corpus). The synthetic graph here
is the honest stand-in for an equivalence set that does grow.

Graph shape (deterministic, seeded by construction not RNG):
  * chains of length 16 (diameter stress for label prop),
  * one celebrity star with 10% of all edges on a single hub (skew), and
  * isolated pairs.

Usage: SPARK_GRAFT_CPUS=32 python scripts/cc_scale_evidence.py \
           [verify_edges] [scale_edges] [chain_len] [tail_chain]
Prints one JSON line. chain_len (default 16) sets the bulk chain depth;
tail_chain appends ONE giant chain of that many edges — the bulk
converges in a few rounds while the giant chain keeps a small frontier
iterating, so the later rounds run under the broadcast gate (the
datapoint NOTES_r3 #3 was missing; measured r4: uniform deep chains
never get there because pointer doubling takes the frontier from
millions to zero in one step, see BENCH.md §cc).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from guac_spark.cc import _union_find_local, connected_components  # noqa: E402
from guac_spark.session import get_spark  # noqa: E402

CHAIN = 16


def synth_edges(spark, n_edges: int, chain_len: int = CHAIN,
                tail_chain: int = 0):
    """Deterministic mixed-shape equivalence graph with n_edges rows.

    tail_chain > 0 appends ONE chain of that many edges: the bulk graph
    converges in a few rounds and drops out of the frontier, while the
    giant chain keeps iterating with a frontier of at most tail_chain
    nodes — the long-tail convergence shape whose later rounds run under
    the broadcast gate (NOTES_r3 #3; uniform deep chains never get there
    because pointer doubling collapses their frontier from millions to
    zero in one step)."""
    n_star = n_edges // 10
    n_pairs = n_edges // 10
    n_chain = n_edges - n_star - n_pairs - tail_chain
    # a tail chain approaching n_edges would silently empty the bulk-chain
    # arm (spark.range(negative) = no rows) and skew the synthetic mix the
    # scale evidence is built on — fail loudly instead (ADVICE r4)
    if n_chain < 0:
        raise ValueError(
            f"tail_chain={tail_chain} exceeds the edge budget: need "
            f"tail_chain <= n_edges - n_star - n_pairs = "
            f"{n_edges - n_star - n_pairs}"
        )
    # chains over integer ids: edge (i, i+1) unless i ends a chain
    chain = (
        spark.range(n_chain)
        .select(
            F.format_string("c%012d", F.col("id")).alias("src"),
            F.format_string(
                "c%012d",
                F.when((F.col("id") + 1) % chain_len == 0, F.col("id"))
                .otherwise(F.col("id") + 1),
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    star = spark.range(n_star).select(
        F.lit("hub").alias("src"),
        F.format_string("s%012d", F.col("id")).alias("dst"),
    )
    pairs = spark.range(n_pairs).select(
        F.format_string("pa%012d", F.col("id")).alias("src"),
        F.format_string("pb%012d", F.col("id")).alias("dst"),
    )
    out = chain.unionByName(star).unionByName(pairs)
    if tail_chain > 0:
        giant = spark.range(tail_chain).select(
            F.format_string("t%012d", F.col("id")).alias("src"),
            F.format_string("t%012d", F.col("id") + 1).alias("dst"),
        )
        out = out.unionByName(giant)
    return out


def main() -> None:
    verify_n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    scale_n = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    chain_len = int(sys.argv[3]) if len(sys.argv) > 3 else CHAIN
    tail_chain = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="cc_scale_evidence", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # (a) identity at verification size
    ve = synth_edges(
        spark, verify_n, chain_len, tail_chain // 10
    ).localCheckpoint(eager=True)
    t0 = time.time()
    dist = connected_components(ve, driver_threshold=0, max_iter=40)
    dist_rows = sorted(map(tuple, dist.collect()))
    t_dist_verify = time.time() - t0
    t0 = time.time()
    pairs = [(r[0], r[1]) for r in ve.distinct().collect()]
    uf_rows = sorted(_union_find_local(pairs))
    t_uf = time.time() - t0
    identical = dist_rows == uf_rows

    # (b) wall time at scale size, distributed path only — fresh session
    # so the verify leg's cached blocks/JIT state can't skew the timing
    spark.stop()
    spark = get_spark(app_name="cc_scale_evidence_big", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    se = synth_edges(
        spark, scale_n, chain_len, tail_chain
    ).localCheckpoint(eager=True)
    n_scale = se.count()
    stats: list = []
    t0 = time.time()
    big = connected_components(
        se, driver_threshold=0, max_iter=40, round_stats=stats
    )
    n_components = big.select("component").distinct().count()
    t_dist_scale = time.time() - t0

    print(json.dumps({
        "identical_at_verify_size": identical,
        "verify_edges": verify_n,
        "chain_len": chain_len,
        "tail_chain": tail_chain,
        "t_distributed_verify_sec": round(t_dist_verify, 1),
        "t_unionfind_sec": round(t_uf, 1),
        "scale_edges": n_scale,
        "scale_components": n_components,
        "t_distributed_scale_sec": round(t_dist_scale, 1),
        "rounds": stats,
        "n_broadcast_rounds": sum(1 for r in stats if r["broadcast"]),
        "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
