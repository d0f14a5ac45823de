"""The benchmark's workloads and the metrics each run reports.

build_small  closed loop, one client: the full 8-stage pipeline
             (`pipeline.run_pipeline`) on 1k turns into a fresh warehouse,
             one build at a time, after one untimed cold build; builds
             start until the timed time reaches --seconds, at least one.
             Every build is checked.
query_mix    closed loop, one client: rounds of graph and text/vector ops
             over a 1k-turn graph the pipeline built (once per source
             tree, see `build_query_graph`). Each op resolves the latest
             committed snapshot through `Warehouse.read` and writes its
             full result to the noop sink. Each op type is checked once
             against DuckDB before the timed rounds (this pass also warms
             the JIT).

Between builds the Spark cache, the bucketed catalog tables the
warehouse registers and the warehouse directory are removed, and the
catalog is checked to be back at its set-up size.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from pyspark.sql import functions as F

from guac_spark import assemble, cc, corpus, extract, graph, link, oracle
from guac_spark import pipeline
from guac_spark.textops import dedup, quality, similarity
from guac_spark.textops import entries as text_entries
from guac_spark.warehouse import Warehouse

import check
import gen
from spans import Tracer, union_s

PACKAGE_DIR = os.path.dirname(os.path.abspath(pipeline.__file__))
# reused across runs in one source tree; see build_query_graph
CACHE_ROOT = os.path.join(os.path.dirname(PACKAGE_DIR), ".perfbench_cache")

# inputs: 1000 events is the smallest corpus the pipeline sizes its
# universe for (np = 25 head persons); at this size a build is almost
# all fixed cost (planning, job launches, catalog and commit work)
BUILD_EVENTS = 1000
GRAPH_EVENTS = 1000
# a run must end within 180 s; no build or query round starts unless it
# would end this long after the session started, leaving room for the
# last checks, the trace read-back and stopping the JVM on a slow host
RUN_LIMIT_S = 150.0
GRAPH_SEED = 0  # row order of the query graph's inputs, the same every run
CHECK_THREADS = 4

STAGES = ["alias_dict", "transcripts", "mentions_linked", "equivalences",
          "cc_mapping", "triples", "vertices", "edges"]
STAGE_FIELDS = ["s", "cpu_s", "run_s", "shuffle_bytes", "jobs", "rows"]

# package functions wrapped in spans during traced builds: (owner,
# attribute, kind). "plan" functions only build lazy plans.
BUILD_LAYERS = [
    (corpus, "alias_dict", "plan"),
    (corpus, "transcripts", "plan"),
    (extract, "extract_mentions_fused", "plan"),
    (link, "link_exact", "plan"),
    (link, "unmatched_surfaces", "plan"),
    (link, "link_tail", "plan"),
    (assemble, "resolve_surfaces", "plan"),
    (assemble, "triples_final", "plan"),
    (assemble, "vertices", "plan"),
    (assemble, "edges", "plan"),
    (cc, "connected_components", "cc"),
    (Warehouse, "write_snapshot", "write"),
    (Warehouse, "commit_pending", "commit"),
    (Warehouse, "read", "read"),
]

POINT_OPS = ["graph.neighbors", "graph.known", "graph.nodes",
             "graph.find_software", "graph.page_vertices_connection"]
SCAN_OPS = ["graph.bfs_distances", "graph.shortest_path_nodes",
            "graph.toposort_levels", "graph.top_dependents",
            "graph.conversation_rollup", "dedup.exact_dedup",
            "dedup.minhash_pairs", "similarity.ann_topk_bruteforce",
            "similarity.ann_topk_lsh", "similarity.ann_topk_ivf",
            "similarity.cosine_near_pairs_lsh", "quality.token_stats",
            "quality.quality_score"]
OPS = POINT_OPS + SCAN_OPS
# one round: every op type, point lookups twice
ROUND = POINT_OPS * 2 + SCAN_OPS
OP_FIELDS = ["p50_s", "jobs", "shuffle_bytes"]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class MemSampler:
    """Peak summed proportional set size (PSS: shared pages split among
    the processes sharing them) of this process's descendants, the driver
    JVM and its Python workers, sampled from /proc while active."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass  # the process ended
        return 0

    @classmethod
    def _descendant_pss_mb(cls) -> float:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
        todo, total = list(children.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            total += cls._pss_kb(pid)
            todo.extend(children.get(pid, []))
        return total / 1024

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._descendant_pss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class Run:
    """State of one benchmark run: session, scratch root, seed, counters
    and (for traced runs) the tracer."""

    def __init__(self, spark, work: str, seed: int, traced: bool,
                 session_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = Tracer(spark) if traced else None
        self.session_s = session_s
        self.started = time.monotonic() - session_s
        self.attempted = 0
        self.failed = 0
        # sampling /proc costs CPU, so only traced runs take it
        self.mem = MemSampler() if traced else nullcontext()

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")

    def has_time_for(self, op_s: float) -> bool:
        """Whether an op of op_s seconds started now ends within
        RUN_LIMIT_S of the session start."""
        return time.monotonic() - self.started + op_s < RUN_LIMIT_S

    def session_layers(self) -> dict[str, float]:
        return {"session.start_s": self.session_s,
                "session.peak_pss_mb": self.mem.peak_mb}

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def patch_layers(self) -> None:
        if not self.tracer:
            return
        for owner, attr, kind in BUILD_LAYERS:
            mod = owner.__name__.rsplit(".", 1)[-1].lower()
            name = f"{mod}.{attr}"
            if kind == "write":
                self.tracer.patch(owner, attr, name, lambda a, kw: {
                    "kind": "write",
                    "stage": kw.get("stage") or (a[3] if len(a) > 3 else a[2]),
                })
            else:
                self.tracer.patch(owner, attr, name,
                                  lambda a, kw, k=kind: {"kind": k})

    def unpatch_layers(self) -> None:
        if self.tracer:
            self.tracer.unpatch()


# --- warehouse lifecycle -----------------------------------------------------

def catalog_size(spark) -> int:
    return len(spark.catalog.listTables())


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def reset(run: Run, wh_root: str | None) -> None:
    """Drop everything a build leaves behind in the session, and its
    warehouse directory unless wh_root is None."""
    spark = run.spark
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.name.startswith("wh_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    if wh_root is not None:
        shutil.rmtree(wh_root, ignore_errors=True)


def build(run: Run, inputs: str, wh_root: str):
    """One fresh full build; returns (wall seconds, build span)."""
    with run.span("build", kind="build") as sp:
        t0 = time.perf_counter()
        pipeline.run_pipeline(run.spark, inputs, wh_root, resume=False)
        wall = time.perf_counter() - t0
    return wall, sp


def check_build(wh_root: str, expect: dict) -> bool:
    wh = Warehouse(wh_root)
    try:
        got = check.committed_fingerprints(
            {t: wh.committed_paths(t) for t in check.TABLES})
    except Exception:  # noqa: BLE001 - an unreadable table fails the check
        log(traceback.format_exc())
        return False
    bad = [t for t in check.TABLES if got[t] != expect[t]]
    if bad:
        log(f"tables differ from the DuckDB oracle: {bad}")
    return not bad


# --- per-layer metrics -------------------------------------------------------

def build_layers(run: Run, jobs, sp, wall: float, wh_root: str,
                 self_s: float) -> dict[str, float]:
    """Layer metrics of one traced build (span sp)."""
    tr = run.tracer
    inside = [s for s in tr.spans
              if s.sid != sp.sid and s.start >= sp.start and s.end <= sp.end]
    top = [s for s in inside if s.parent in (None, sp.sid)]
    # a stage is the run of builder spans in one thread up to and
    # including the warehouse write that commits it, plus the read-back
    stage_of: dict[int, str] = {}
    for tid in {s.thread for s in top}:
        pending, last = [], None
        for s in sorted((s for s in top if s.thread == tid),
                        key=lambda s: s.start):
            kind = s.attrs.get("kind")
            if kind == "write":
                last = s.attrs["stage"]
                for p in pending + [s]:
                    stage_of[p.sid] = last
                pending = []
            elif kind == "read" and not pending and last:
                stage_of[s.sid] = last
            else:
                pending.append(s)
    n_spans = len(tr.spans)
    bjobs = [j for j in jobs
             if sp.start - 0.01 <= j.start and j.end <= sp.end + 0.01]
    out: dict[str, float] = {}
    for st in STAGES:
        spans = [s for s in top if stage_of.get(s.sid) == st]
        sj = [j for j in bjobs if j.sid is not None and j.sid < n_spans
              and stage_of.get(tr.root(j.sid, stop=sp.sid)) == st]
        out[f"stage.{st}.s"] = (max(s.end for s in spans)
                                - min(s.start for s in spans)) if spans else 0.0
        out[f"stage.{st}.cpu_s"] = sum(j.cpu_s for j in sj)
        out[f"stage.{st}.run_s"] = sum(j.run_s for j in sj)
        out[f"stage.{st}.shuffle_bytes"] = sum(j.shuffle_bytes for j in sj)
        out[f"stage.{st}.jobs"] = len(sj)
        out[f"stage.{st}.rows"] = Warehouse(wh_root).committed_rows(st) or 0
    stage_iv = [
        (min(s.start for s in g), max(s.end for s in g))
        for g in ([s for s in top if stage_of.get(s.sid) == st]
                  for st in STAGES) if g
    ]
    busy = union_s([(max(j.start, sp.start), min(j.end, sp.end))
                    for j in bjobs])
    files, size = dir_stats(wh_root)
    out.update({
        "pipeline.jobs": len(bjobs),
        "pipeline.tasks": sum(j.tasks for j in bjobs),
        "pipeline.job_busy_s": busy,
        "pipeline.driver_gap_s": wall - busy,
        "pipeline.plan_s": sum(s.s for s in top
                               if s.attrs.get("kind") == "plan"),
        "pipeline.spill_bytes": sum(j.spill_bytes for j in bjobs),
        "cc.s": sum(s.s for s in top if s.attrs.get("kind") == "cc"),
        "warehouse.write_s": sum(s.s for s in top
                                 if s.attrs.get("kind") == "write"),
        "warehouse.commit_s": sum(s.s for s in inside
                                  if s.attrs.get("kind") == "commit"),
        "warehouse.files_written": files,
        "warehouse.bytes_written": size,
        "warehouse.read_s": sum(s.s for s in top
                                if s.attrs.get("kind") == "read"),
        "trace.overhead_s": self_s,
        "trace.unattributed_jobs": sum(1 for j in bjobs if j.sid is None),
        "trace.stage_cover": union_s(stage_iv) / wall,
    })
    return out


def link_layers(run: Run, wh_root: str) -> dict[str, float]:
    """Tail-linking blocking yield over a committed build, untimed."""
    wh = Warehouse(wh_root)
    linked = wh.read(run.spark, "mentions_linked")
    adict = wh.read(run.spark, "alias_dict")
    unmatched = link.unmatched_surfaces(linked)
    persons = adict.filter(F.col("kind") == "person").select("alias")
    cands = link.lsh_candidate_pairs(unmatched.select("surface").distinct(),
                                     persons.distinct()).count()
    links = link.link_tail(unmatched, adict).count()
    return {
        "link.unmatched_surfaces": unmatched.count(),
        "link.tail_candidates": cands,
        "link.tail_links": links,
        "link.tail_yield": links / cands if cands else 0.0,
    }


def cc_layers(run: Run, wh_root: str) -> dict[str, float]:
    """The distributed connected-components path over the committed
    equivalences, untimed. Builds this small stay under the pipeline's
    driver-side union-find threshold, which runs no rounds; the probe
    forces the frontier rounds and checks they give the committed
    mapping."""
    wh = Warehouse(wh_root)
    stats: list[dict] = []
    t = time.perf_counter()
    got = cc.connected_components(wh.read(run.spark, "equivalences"),
                                  driver_threshold=0, round_stats=stats)
    rows = sorted(map(tuple, got.collect()))
    s = time.perf_counter() - t
    want = sorted(map(tuple, wh.read(run.spark, "cc_mapping").select(
        "node", "component").collect()))
    run.outcome(rows == want, "distributed cc against cc_mapping")
    return {
        "cc.distributed_s": s,
        "cc.rounds": len(stats),
        "cc.frontier_max": max((r["frontier"] or 0 for r in stats),
                               default=0),
    }


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


# --- build workload ----------------------------------------------------------

def run_build(run: Run, seconds: float) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    inputs = gen.stage_inputs(run.work, BUILD_EVENTS, run.seed,
                              with_docs=False)
    input_bytes = os.path.getsize(os.path.join(inputs, "events.parquet"))
    expect = check.oracle_fingerprints(inputs)
    log(f"set-up: inputs and oracle {time.perf_counter() - t0:.1f} s")
    wh_root = os.path.join(run.work, "wh")
    # the cold build pays JIT compilation and Python worker start-up;
    # later builds still warm slowly (the fourth is ~15% faster than the
    # second), so the timed builds sit at the same point of that curve
    # on every commit
    build(run, inputs, wh_root)
    run.outcome(check_build(wh_root, expect), "warm-up build")
    reset(run, wh_root)
    base_tables = catalog_size(run.spark)
    setup_s = run.session_s + time.perf_counter() - t0
    log(f"set-up: {setup_s:.1f} s with the session")

    walls, stored, layers, probes = [], [], [], {}
    timed = 0.0  # failed builds spend the window too
    untimed = 0.0  # output checks and trace read-back inside the loop
    n, last = 0, 0.0
    run.patch_layers()
    try:
        with run.mem:
            loop0 = time.perf_counter()
            while n < 1 or timed < seconds:
                if not run.has_time_for(last):
                    log(f"stopping after {n} builds: one more would end "
                        f"past {RUN_LIMIT_S:.0f} s")
                    break
                n += 1
                self0 = run.tracer.self_s if run.tracer else 0.0
                t = time.perf_counter()
                try:
                    wall, sp = build(run, inputs, wh_root)
                except Exception:  # noqa: BLE001 - count it and go on
                    last = time.perf_counter() - t
                    timed += last
                    log(traceback.format_exc())
                    run.outcome(False, "build raised")
                    reset(run, wh_root)
                    continue
                timed += wall
                last = wall
                walls.append(wall)
                log(f"build {len(walls)}: {wall:.2f} s")
                t = time.perf_counter()
                stored.append(dir_stats(wh_root)[1] / input_bytes)
                if run.tracer:
                    # layer figures need the warehouse before reset
                    layers.append(build_layers(
                        run, run.tracer.spark_jobs(), sp, wall, wh_root,
                        run.tracer.self_s - self0))
                    if not probes:
                        probes = {**link_layers(run, wh_root),
                                  **cc_layers(run, wh_root)}
                ok = check_build(wh_root, expect)
                untimed += time.perf_counter() - t
                reset(run, wh_root)
                ok = ok and catalog_size(run.spark) == base_tables \
                    and not os.path.exists(wh_root)
                run.outcome(ok, "build output or clean-up")
            loop_s = time.perf_counter() - loop0 - untimed
    finally:
        run.unpatch_layers()
    if not walls:
        raise RuntimeError("no build completed")
    e2e = {
        "setup_s": setup_s,
        "op_geomean_s": statistics.geometric_mean(walls),
        # builds plus the clean-up between them
        "ops_per_s": len(walls) / loop_s,
        "stored_bytes_per_input_byte": statistics.median(stored),
    }
    per_layer = {}
    if run.tracer:
        per_layer = {**zero_layers(), **run.session_layers(),
                     **median_dict(layers), **probes}
    return e2e, per_layer


# --- query_mix workload ------------------------------------------------------

class Graph:
    """Read access to the committed snapshots, one Warehouse.read each."""

    def __init__(self, run: Run, wh_root: str):
        self.spark = run.spark
        self.wh = Warehouse(wh_root)

    def __call__(self, table: str):
        return self.wh.read(self.spark, table)


def op_call(op: str, g: Graph, a: dict):
    """Run op with arguments a; returns a DataFrame or a Python value."""
    ids = a["vec_ids"]
    return {
        "graph.neighbors": lambda: graph.neighbors(
            g("edges"), g("vertices"), a["entity"]),
        "graph.known": lambda: graph.known(g("edges"), a["entity"]),
        "graph.nodes": lambda: graph.nodes(
            g("vertices"), a["entities"]).select(
            "vertex_id", "kind", "canonical"),
        "graph.find_software": lambda: graph.find_software(
            g("vertices"), a["text"]),
        "graph.page_vertices_connection": lambda: (
            graph.page_vertices_connection(
                g("vertices"), after=a["cursor"], first=20).select(
                "vertex_id", "kind", "canonical",
                F.col("has_next_page").cast("int").alias("has_next_page"),
                "end_cursor", "total_count")),
        "graph.bfs_distances": lambda: graph.bfs_distances(
            g("edges"), a["entity"], max_hops=oracle.BFS_HOPS),
        "graph.shortest_path_nodes": lambda: graph.shortest_path_nodes(
            g("edges"), a["entity"], a["target"], max_hops=oracle.PATH_HOPS),
        "graph.toposort_levels": lambda: graph.toposort_levels(g("edges")),
        "graph.top_dependents": lambda: graph.top_dependents(
            g("edges"), k=10),
        "graph.conversation_rollup": lambda: graph.conversation_rollup(
            g("edges")),
        "dedup.exact_dedup": lambda: dedup.exact_dedup(
            dedup.staged_documents(g("documents"))),
        "dedup.minhash_pairs": lambda: dedup.minhash_pairs(
            dedup.staged_documents(g("documents")), 0.7),
        "similarity.ann_topk_bruteforce": lambda: (
            similarity.ann_topk_bruteforce(g("embeddings"), ids, 5)),
        "similarity.ann_topk_lsh": lambda: similarity.ann_topk_lsh(
            g("embeddings"), ids, 5),
        "similarity.ann_topk_ivf": lambda: similarity.ann_topk_ivf(
            g("embeddings"), ids, 5, nprobe=3),
        "similarity.cosine_near_pairs_lsh": lambda: (
            similarity.cosine_near_pairs_lsh(
                similarity.staged_embeddings(g("embeddings")), 0.99)),
        "quality.token_stats": lambda: quality.token_stats(g("documents")),
        "quality.quality_score": lambda: quality.quality_score(
            g("documents")),
    }[op]()


def run_op(op: str, g: Graph, a: dict):
    out = op_call(op, g, a)
    if hasattr(out, "write"):
        out.write.format("noop").mode("overwrite").save()
    return out


class ArgPicker:
    """Seeded op arguments drawn from the committed graph."""

    def __init__(self, g: Graph, seed: int):
        canon = [r[0] for r in g("vertices").select("canonical").collect()]
        self.persons = sorted(c for c in canon if c.startswith("ent:person/"))
        self.topics = sorted(c for c in canon if c.startswith("ent:topic/"))
        self.everything = sorted(canon)
        self.rng = random.Random(seed)

    def __call__(self) -> dict:
        r = self.rng
        name = r.choice(self.persons).split("/", 1)[1]
        i = r.randrange(max(1, len(name) - 3))
        return {
            "entity": r.choice(self.persons),
            "entities": r.sample(self.everything, 4),
            "target": r.choice(self.topics),
            "text": name[i:i + 4],
            "cursor": f"{r.randrange(256):02x}"[: r.choice((1, 2))],
            "vec_ids": sorted(r.sample(range(gen.N_VECS), 5)),
        }


def _literal(v: str) -> str:
    return f"'{v}'"


GRAPH_ORACLE = {
    "graph.neighbors": ("q_neighbors", lambda a: {
        _literal(oracle.SEED_ENTITY): _literal(a["entity"])}),
    "graph.known": ("q_known", lambda a: {
        _literal(oracle.CELEB_ENTITY): _literal(a["entity"])}),
    "graph.nodes": ("q_nodes_batch", lambda a: dict(zip(
        map(_literal, [oracle.SEED_ENTITY, oracle.CELEB_ENTITY,
                       "ent:topic/topic_3", "ent:tool/tool_error"]),
        map(_literal, a["entities"])))),
    "graph.find_software": ("q_find_software", lambda a: {
        "'%lovel%'": _literal(f"%{a['text']}%")}),
    "graph.page_vertices_connection": ("q_page_total", lambda a: {
        "'8'": _literal(a["cursor"])}),
    "graph.bfs_distances": ("q_bfs", lambda a: {
        _literal(oracle.SEED_ENTITY): _literal(a["entity"])}),
    "graph.shortest_path_nodes": ("q_path", lambda a: {
        _literal(oracle.SEED_ENTITY): _literal(a["entity"]),
        _literal(oracle.PATH_TARGET): _literal(a["target"])}),
    "graph.toposort_levels": ("q_toposort", lambda a: {}),
    "graph.top_dependents": ("q_topdeps", lambda a: {}),
    "graph.conversation_rollup": ("q_conv_rollup", lambda a: {}),
}
# text and vector ops are checked with the oracle's own arguments
TEXT_ORACLE = {
    "dedup.exact_dedup": "q_doc_dedup_exact",
    "dedup.minhash_pairs": "q_doc_minhash_pairs",
    "similarity.ann_topk_bruteforce": "q_ann_topk",
    "similarity.ann_topk_lsh": "q_ann_lsh",
    "similarity.ann_topk_ivf": "q_ann_ivf",
    "similarity.cosine_near_pairs_lsh": "q_embed_neardup",
    "quality.token_stats": "q_text_profile",
    "quality.quality_score": "q_text_profile",
}


def check_op(op: str, g: Graph, a: dict) -> bool:
    """Run op once and compare its full result with DuckDB over the same
    committed files."""
    globs = {
        t: os.path.join(g.wh.committed_paths(t)[0], "**", "*.parquet")
        for t in ("edges", "vertices", "documents", "embeddings")
    }
    if op in GRAPH_ORACLE:
        q, subst = GRAPH_ORACLE[op]
        sql = check.graph_oracle(q, subst(a))
        views = {"edges_committed": globs["edges"],
                 "vertices_committed": globs["vertices"]}
    else:
        a = dict(a, vec_ids=list(text_entries.QUERY_VEC_IDS))
        sql = text_entries.ORACLES[TEXT_ORACLE[op]]
        views = {"documents": globs["documents"],
                 "embeddings": globs["embeddings"]}
    out = op_call(op, g, a)
    if op == "graph.shortest_path_nodes":
        cols, got = ["step", "node"], list(enumerate(out or []))
        _, want = check.duck_rows(sql, views, cols)
        want = [r for r in want if r[0] is not None]
    else:
        cols, got = out.columns, [tuple(r) for r in out.collect()]
        _, want = check.duck_rows(sql, views, cols)
    ok = check.same_rows(got, want)
    if not ok:
        log(f"{op} differs from DuckDB: {len(got)} vs {len(want)} rows")
    return ok


def check_ops(run: Run, g: Graph, pick: ArgPicker) -> None:
    """Check every op type once against DuckDB, a few ops at a time as
    concurrent Spark jobs to keep set-up short. This is also the JIT
    warm-up: the timed ops are the second run of each plan."""
    calls = [(op, pick()) for op in OPS]

    def one(call) -> bool:
        op, a = call
        try:
            return check_op(op, g, a)
        except Exception:  # noqa: BLE001 - count it and go on
            log(traceback.format_exc())
            return False

    with ThreadPoolExecutor(max_workers=CHECK_THREADS) as ex:
        for (op, _), ok in zip(calls, ex.map(one, calls)):
            run.outcome(ok, f"check {op}")


def op_layers(run: Run, jobs, spans, walls: dict) -> dict[str, float]:
    tr = run.tracer
    n_spans = len(tr.spans)
    by_root: dict[int, list] = {}
    for j in jobs:
        if j.sid is not None and j.sid < n_spans:
            by_root.setdefault(tr.root(j.sid), []).append(j)
    out: dict[str, float] = {}
    for op in OPS:
        mine = [s for s in spans if s.name == op]
        out[f"{op}.p50_s"] = statistics.median(walls[op]) if walls[op] else 0.0
        out[f"{op}.jobs"] = statistics.median(
            len(by_root.get(s.sid, [])) for s in mine) if mine else 0.0
        out[f"{op}.shuffle_bytes"] = statistics.median(
            sum(j.shuffle_bytes for j in by_root.get(s.sid, []))
            for s in mine) if mine else 0.0
    reads = [sum(c.s for c in tr.spans
                 if c.parent == s.sid and c.attrs.get("kind") == "read")
             for s in spans]
    lo, hi = spans[0].start, spans[-1].end
    out["warehouse.read_s"] = statistics.median(reads)
    out["trace.unattributed_jobs"] = sum(
        1 for j in jobs if j.sid is None and lo <= j.start <= hi)
    return out


def query_round(run: Run, g: Graph, pick: ArgPicker, record) -> float:
    """One round of ops in seeded order; returns the seconds it took.
    record(op, wall, span) is called for each op that completed."""
    order = ROUND[:]
    pick.rng.shuffle(order)
    spent = 0.0
    for op in order:
        a = pick()
        with run.span(op, kind="op") as sp:
            t = time.perf_counter()
            try:
                run_op(op, g, a)
                ok = True
            except Exception:  # noqa: BLE001 - count it and go on
                log(traceback.format_exc())
                ok = False
            wall = time.perf_counter() - t
        spent += wall
        run.outcome(ok, op)
        if ok:
            record(op, wall, sp)
    return spent


def package_digest() -> str:
    """sha256 prefix over the package's source files."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(PACKAGE_DIR)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, PACKAGE_DIR).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


GRAPH_ROOT = os.path.join(CACHE_ROOT, "query_graph")
GRAPH_INPUTS = os.path.join(GRAPH_ROOT,
                            gen.input_key(GRAPH_EVENTS, GRAPH_SEED))
GRAPH_WH = os.path.join(GRAPH_ROOT, "wh")
GRAPH_KEY_FILE = os.path.join(GRAPH_ROOT, "KEY")


def query_graph_key() -> str:
    """Everything that decides the query graph's bytes: generator
    version, size and package source."""
    return f"{gen.input_key(GRAPH_EVENTS, GRAPH_SEED)}_{package_digest()}"


def query_graph_ready() -> bool:
    try:
        with open(GRAPH_KEY_FILE) as f:
            return f.read() == query_graph_key()
    except FileNotFoundError:
        return False


def build_query_graph(spark) -> None:
    """Build the graph query_mix reads under GRAPH_ROOT.

    The pipeline builds it once per source tree from inputs in a fixed
    row order, with the documents and embeddings committed beside it, and
    later runs reuse it. There is one such graph per tree: its KEY file
    is written last, and a graph with another or no KEY is removed and
    rebuilt.
    """
    shutil.rmtree(GRAPH_ROOT, ignore_errors=True)
    gen.stage_inputs(GRAPH_ROOT, GRAPH_EVENTS, GRAPH_SEED)
    pipeline.run_pipeline(spark, GRAPH_INPUTS, GRAPH_WH, resume=False)
    wh = Warehouse(GRAPH_WH)
    for t in ("documents", "embeddings"):
        wh.write_snapshot(spark.read.parquet(
            os.path.join(GRAPH_INPUTS, f"{t}.parquet")), t)
    with open(GRAPH_KEY_FILE, "w") as f:
        f.write(query_graph_key())


def run_query_mix(run: Run, seconds: float) -> tuple[dict, dict]:
    if not query_graph_ready():
        raise RuntimeError("the query graph is missing or stale")
    inputs, wh_root = GRAPH_INPUTS, GRAPH_WH
    t0 = time.perf_counter()
    run.outcome(check_build(wh_root, check.oracle_fingerprints(inputs)),
                "query graph")
    input_bytes = sum(os.path.getsize(os.path.join(inputs, f))
                      for f in os.listdir(inputs))
    stored = dir_stats(wh_root)[1] / input_bytes
    g = Graph(run, wh_root)
    pick = ArgPicker(g, run.seed)
    t = time.perf_counter()
    check_ops(run, g, pick)
    log(f"set-up: op checks {time.perf_counter() - t:.1f} s")
    setup_s = run.session_s + time.perf_counter() - t0
    log(f"set-up: {setup_s:.1f} s with the session")

    walls: dict[str, list[float]] = {op: [] for op in OPS}
    spans = []

    def record(op: str, wall: float, sp) -> None:
        walls[op].append(wall)
        if sp is not None:
            spans.append(sp)

    timed = 0.0
    if run.tracer:
        run.tracer.patch(Warehouse, "read", "warehouse.read",
                         lambda a, kw: {"kind": "read"})
    self0 = run.tracer.self_s if run.tracer else 0.0
    try:
        with run.mem:
            loop0 = time.perf_counter()
            last = 0.0
            while timed < seconds:
                if not run.has_time_for(last):
                    log(f"stopping: one more round would end past "
                        f"{RUN_LIMIT_S:.0f} s")
                    break
                last = query_round(run, g, pick, record)
                timed += last
            loop_s = time.perf_counter() - loop0
    finally:
        run.unpatch_layers()
    all_walls = [w for ws in walls.values() for w in ws]
    if not all_walls:
        raise RuntimeError("no query op completed")
    e2e = {
        "setup_s": setup_s,
        # the op types' walls cluster with gaps between them, so their
        # median jumps from cluster to cluster between runs; the geometric
        # mean moves smoothly and weighs every op by its relative change
        "op_geomean_s": statistics.geometric_mean(all_walls),
        "ops_per_s": len(all_walls) / loop_s,
        "stored_bytes_per_input_byte": stored,
    }
    per_layer = {}
    if run.tracer:
        per_layer = {**zero_layers(), **run.session_layers(),
                     **op_layers(run, run.tracer.spark_jobs(), spans, walls),
                     "trace.overhead_s":
                         (run.tracer.self_s - self0) / len(all_walls)}
    return e2e, per_layer


WORKLOADS = {"build_small": run_build, "query_mix": run_query_mix}

E2E_UNITS = {"setup_s": "s", "op_geomean_s": "s", "ops_per_s": "1/s",
             "stored_bytes_per_input_byte": "ratio"}


LAYER_NAMES = (
    ["session.start_s", "session.peak_pss_mb", "link.unmatched_surfaces",
     "link.tail_candidates", "link.tail_links", "link.tail_yield", "cc.s",
     "cc.distributed_s", "cc.rounds", "cc.frontier_max", "trace.overhead_s",
     "trace.unattributed_jobs", "trace.stage_cover"]
    + [f"pipeline.{f}" for f in ("jobs", "tasks", "job_busy_s",
                                 "driver_gap_s", "plan_s", "spill_bytes")]
    + [f"stage.{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    + [f"warehouse.{f}" for f in ("write_s", "commit_s", "files_written",
                                  "bytes_written", "read_s")]
    + [f"{op}.{f}" for op in OPS for f in OP_FIELDS]
)


def zero_layers() -> dict[str, float]:
    """Every per-layer metric at 0: a layer the workload does not run."""
    return dict.fromkeys(LAYER_NAMES, 0.0)


def units() -> dict[str, str]:
    """Unit of every metric a run can report."""
    def unit(name: str) -> str:
        last = name.rsplit(".", 1)[1]
        if last == "s" or last.endswith("_s"):
            return "s"
        if "bytes" in last:
            return "bytes"
        if last.endswith("_mb"):
            return "MB"
        if last.endswith(("_yield", "_cover")):
            return "ratio"
        return "count"

    return {**E2E_UNITS, **{n: unit(n) for n in LAYER_NAMES}}
