"""Connected components: hash-partitioned min-label propagation.

Canonicalization merge — the physical realization of GUAC's equivalence
verbs (PkgEqual/HashEqual/VulnEqual, /root/reference/pkg/assembler/backends/
keyvalue/pkgEqual.go), which GUAC keeps as edges and resolves at query time;
the north rule requires merging duplicate subjects/objects *before*
materializing, so we compute components over the same_as/link edge set and
rewrite every triple endpoint to its component's canonical id.

An edge relation that fits the driver skips the rounds below: the one
driver gate (driver_edges, shared with graph's BFS, shortest-path and
toposort, with similarity's embedding searches and with dedup's MinHash
pairs) collects it in one Spark job and union-find solves it in process.

Algorithm: min-label edge propagation interleaved with pointer-doubling
tree contraction (the alternating-star / hash-to-min family, cf. Kiveris
et al., "Connected Components in MapReduce and Beyond"):

  each round:   label(v) <- min(label(v),
                               min over frontier nbrs u of label(u), [edges]
                               label(label(v)) for v in frontier)    [jump]
                where the FRONTIER is the set of labels that changed
                last round (round 0: everything). One edge join + one
                label lookup feeding a single min-agg, ONE
                checkpoint + frontier count per round; STOP when the
                frontier empties. The jump term doubles pointer depth
                per round (labels only ever point within the component
                and label(x) <= x, so the jump is monotone). Once the
                frontier fits the broadcast gate, a round shuffles
                NEITHER the edge set NOR the label set — broadcast-hash
                joins against the frontier plus a partition-local
                checkpoint rewrite.

r2's neighbor-only propagation was O(diameter) full-set rounds (16-hop
chains cost 16+ rounds, VERDICT r2 #4); here chains collapse in
O(log diameter) fused rounds. Deterministic: the winner is the lexicographically
smallest node id in the component, independent of partition order or
parallelism ('ent:org/...' style canonical ids sort before provisional
'ent:unk/...' ids, so a merged component is always named by its
dictionary entity). Iterations are driver-controlled with stats-resetting
checkpoints between rounds (session.checkpoint_nostats) — plain
localCheckpoint cuts lineage but compounds Catalyst sizeInBytes estimates
exponentially across self-join rounds (SURVEY.md §4 item 2).

Correctness: every label is always the id of a node in the same
component (neighbor labels and label-of-label both stay inside the
component) and only ever decreases, so iteration terminates. Frontier
completeness: round 0 offers every initial label across every edge, and
thereafter a node re-enters the frontier exactly when its label value is
NEW — so by induction every label value a node ever holds is offered
across all its incident edges. An empty frontier therefore proves that
for every edge (a, b) the final label(b) was offered to a and did not
lower label(a) (and vice versa): labels are constant per component, and
the component minimum keeps itself as its own label, so that constant is
the minimum. The jump term is a pure accelerator — monotone and
within-component — and cannot create a fixpoint the edge offers wouldn't
also reach.

Skew: min is algebraic, so Spark's partial (map-side) aggregation already
collapses a celebrity node's offers to one row per map partition before
the shuffle — its reduce-side input is bounded by the map partition
count, not its degree. max_iter guards the pathological case.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import checkpoint_nostats

# Relations of at most this many rows are solved on the driver, all
# through driver_edges: edge relations by connected_components and by
# graph's BFS, shortest-path and toposort, embedding relations by
# similarity's brute-force, LSH and IVF top-k and LSH near-dup pairs, and
# document shingle relations by dedup's MinHash near-dup pairs. One Arrow
# collect of 100k string pairs is a fraction of one distributed round, and
# past the limit the gate's one task stops after 100,001 rows.
DRIVER_EDGE_LIMIT = 100_000
# a distributed round broadcast-joins its frontier while it has at most
# this many rows
BROADCAST_LIMIT = 1_000_000


def driver_edges(e: DataFrame, limit: int | None = None
                 ) -> pd.DataFrame | None:
    """The driver gate: the relation `e` (an edge relation, an embedding
    relation for similarity's searches, or a (doc_id, shingles) relation
    for dedup's MinHash pairs) as pandas when it has at most `limit` rows
    (None: DRIVER_EDGE_LIMIT, read at call time), else None. One Spark
    job of one stage both decides the side and fetches the rows: `e` is
    coalesced to one partition, limited to `limit` + 1 rows
    (DRIVER_EDGE_LIMIT + 1 by default) and collected as one Arrow table,
    which becomes pandas only on the driver side, so a relation past the
    gate costs the collect but no pandas conversion. The coalesce is what
    keeps it one stage: over more than one partition the limit plans a
    single-partition shuffle of every partition's first `limit` + 1 rows,
    while the one task stops reading once it holds them. That task also
    computes `e`'s rows alone, so a relation whose rows are costly to
    build near the limit (bigram_sets' tokenizing of ~100k documents)
    collects slower than through the shuffle's parallel tasks."""
    if limit is None:
        limit = DRIVER_EDGE_LIMIT
    tbl = e.coalesce(1).limit(limit + 1).toArrow()
    return tbl.to_pandas() if tbl.num_rows <= limit else None


def _union_find_local(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Exact driver-side union-find (min node id wins as component label)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for p in pairs for n in p}
    return [(n, find(n)) for n in sorted(nodes)]


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    driver_threshold: int | None = None,
    round_stats: list | None = None,
) -> DataFrame:
    """Compute components of the undirected graph given by (src, dst) rows.

    Returns (node string, component string) for every node appearing in
    `edges`; `component` is the min node id of its component. Nodes not in
    any edge are simply absent (callers treat missing as identity).

    Two physical strategies with identical output, chosen by the one
    driver gate (driver_edges) at `driver_threshold` rows; None reads
    DRIVER_EDGE_LIMIT at call time, as graph's traversals do:
      * edge set fits the driver: the gate's collect is the input of an
        exact local union-find, which is indifferent to pair order and
        duplicates — so the whole call is one Spark job. With a
        corpus-proportional entity universe the equivalence graph grows
        ~linearly with the corpus, so anything past the limit takes the
        path that scales.
      * otherwise: frontier-based min-label propagation with a fused
        pointer-doubling jump term (module docstring), O(log diameter)
        rounds; after round 0 each round touches only the changed-label
        frontier, broadcast-joined once it fits BROADCAST_LIMIT rows.
    """
    spark = edges.sparkSession
    pdf = driver_edges(edges.select("src", "dst"), driver_threshold)
    if pdf is not None:
        rows = _union_find_local(list(zip(pdf["src"], pdf["dst"])))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["node", "component"]),
            "node string, component string",
        )
    # undirected: both directions. No distinct(): duplicate edges only
    # produce duplicate min-offers (harmless), and deduping costs a full
    # extra shuffle of the edge set.
    #
    # SHALLOW-GRAPH FAST PATH (NOTES_r5 #4b, VERDICT r5 order #3): e is
    # NOT materialized up front. The r5 sub-step measurement at 1.26M
    # edges/c4 showed the stage's cost was checkpoint materialization
    # (edge prep+repartition+checkpoint 3.5s of 13s), not compute — and
    # the equivalence graph is a forest of stars around dictionary
    # entities that converges in ONE frontier round, so the up-front
    # checkpoint never amortized. Round 0 and round 1 read the (usually
    # committed-snapshot-backed) edge input directly — two cheap columnar
    # scans; only if a round 2 actually happens is e checkpointed once,
    # so long-convergence graphs still stop re-evaluating their input
    # lineage. (The old repartition('b') bought nothing either way:
    # checkpoint_nostats rebuilds a LogicalRDD, which does not carry
    # outputPartitioning into Catalyst, and broadcast-gated rounds never
    # shuffle e at all.)
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
    )
    e_ck = None  # set on round 2+

    # All aggregations below are plain groupBy().min(): min is algebraic,
    # so Spark's partial (map-side) aggregation collapses a hot key to ONE
    # row per map partition before the shuffle — a celebrity hub's
    # reduce-side input is bounded by the map partition count, not its
    # degree, so no salting is needed.
    def _min_label(offers: DataFrame, out: str) -> DataFrame:
        return offers.groupBy("node").agg(F.min("label").alias(out))

    # Round 0 folded into initialization: with identity labels, the edge
    # offer label(u)=u reduces to e itself ((a, b) offers b to a) and the
    # jump term is the identity — the first full-size round needs NO join
    # at all, just one min over the edge list plus self rows.
    labels = checkpoint_nostats(
        _min_label(
            e.select(F.col("a").alias("node"), F.col("b").alias("label"))
            .unionByName(
                e.select(
                    F.col("a").alias("node"), F.col("a").alias("label")
                )
            ),
            "label",
        )
    )

    # Frontier (delta) iteration: only labels that CHANGED last round are
    # propagated. Round 0 offers every initial label across every edge;
    # from then on a label value is re-offered exactly when it is new.
    # Exit when the frontier is empty — by induction every label value
    # was offered across all incident edges when it became current, so an
    # empty frontier proves edge-consistency (module docstring), and the
    # jump term is a pure accelerator (monotone, within-component).
    #
    # Scale shape: after round 0 the frontier shrinks geometrically, and
    # once it fits the broadcast gate the whole round runs WITHOUT
    # shuffling the full edge or label sets — broadcast-hash joins against
    # the small frontier, map-side only, plus one partition-local rewrite
    # of the labels checkpoint.
    frontier = labels.filter(F.col("label") != F.col("node"))
    frontier_n = frontier.count()
    cur_ck = labels._ck_source  # block-cache backing the live labels
    for it in range(max_iter):
        if frontier_n == 0:
            break
        if it >= 1 and e_ck is None:
            # a second frontier round is actually happening — NOW cut the
            # edge input's lineage once so rounds 2.. re-read cached
            # blocks instead of re-evaluating the input plan every round
            e = checkpoint_nostats(e)
            e_ck = e._ck_source
        small = frontier_n <= BROADCAST_LIMIT

        def _b(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        # edge offers: frontier labels flow to their neighbors
        nbr = (
            e.join(
                _b(
                    frontier.select(
                        F.col("node").alias("b"), F.col("label")
                    )
                ),
                on="b",
            ).select(F.col("a").alias("node"), "label")
        )
        # jump offers (pointer doubling): nodes in the frontier fetch
        # their label's label — collapses chains in O(log diameter)
        jump = (
            labels.select(
                F.col("node").alias("_p"), F.col("label")
            )
            .join(
                _b(
                    frontier.select(
                        "node", F.col("label").alias("_p")
                    )
                ),
                on="_p",
            )
            .select("node", "label")
        )
        cand = _min_label(nbr.unionByName(jump), "cand")
        if small:
            # cand can exceed the frontier (a hub's every neighbor gets
            # an offer) — materialize and re-check before broadcasting
            cand = checkpoint_nostats(cand)
            if cand.count() > BROADCAST_LIMIT:
                small = False
        # labels <- elementwise min with candidates. checkpoint_nostats
        # (not plain localCheckpoint): an iterative self-join loop
        # compounds carried-over sizeInBytes estimates exponentially —
        # see session.checkpoint_nostats
        merged = checkpoint_nostats(
            labels.join(_b(cand), on="node", how="left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("cand", F.col("label"))
                ).alias("label"),
            )
        )
        # merged is materialized (eager) — the superseded labels
        # checkpoint and the round's cand checkpoint are dead; free their
        # blocks so long convergence tails don't accumulate executor
        # storage proportional to rounds x |labels|
        cur_ck.unpersist(False)
        cand_ck = getattr(cand, "_ck_source", None)
        if cand_ck is not None:
            cand_ck.unpersist(False)
        cur_ck = merged._ck_source
        if round_stats is not None:
            # observability for scale evidence (NOTES_r3 #3): frontier
            # size entering the round and whether it ran under the
            # broadcast gate (no full edge/label shuffle)
            round_stats.append(
                {"frontier": frontier_n, "broadcast": bool(small)}
            )
        frontier = merged.filter(F.col("label") < F.col("_old")).select(
            "node", "label"
        )
        frontier_n = frontier.count()  # cheap: scans the checkpoint
        labels = merged.select("node", "label")
        if frontier_n == 0:
            break
    else:
        # free the loop's live checkpoint blocks before raising — the
        # non-convergence path otherwise leaks executor storage
        # (ADVICE r6)
        for _ck in (e_ck, cur_ck):
            if _ck is not None:
                _ck.unpersist(False)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    if e_ck is not None:
        # the returned labels are backed by their own checkpoint blocks —
        # the edge checkpoint is dead now
        e_ck.unpersist(False)
    return labels.select("node", F.col("label").alias("component"))


def apply_mapping(
    df: DataFrame, mapping: DataFrame, cols: list[str],
    broadcast: bool = True,
) -> DataFrame:
    """Rewrite id columns through the component mapping (identity on miss).

    The mapping (distinct entities in some equivalence) is orders of
    magnitude smaller than the triple stream — broadcast it so the rewrite
    never shuffles the stream. With a corpus-proportional entity universe
    the mapping grows ~linearly with the corpus; past the broadcast budget
    the caller passes broadcast=False and the rewrite becomes a shuffle
    join on the (uniform, hash-distributed) entity id instead — the
    pipeline gates on the committed cc_mapping row count.
    """
    out = df
    m = F.broadcast(mapping) if broadcast else mapping
    for c in cols:
        out = (
            out.join(
                m.withColumnRenamed("node", c).withColumnRenamed(
                    "component", f"_cc_{c}"
                ),
                on=c,
                how="left",
            )
            .withColumn(c, F.coalesce(F.col(f"_cc_{c}"), F.col(c)))
            .drop(f"_cc_{c}")
        )
    return out
