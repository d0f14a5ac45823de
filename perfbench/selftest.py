"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Runs every workload at its shortest (--seconds 1: one query round
   or one build), untraced and traced,
   and checks that the result line names exactly the metrics in
   BENCHMARK.json, each with its unit, and that the run was correct.
2. Builds once, corrupts one row of a committed table and checks that
   the output check counts the build as failed.
3. Runs the benchmark in a tree holding only BENCHMARK.json and the
   benchmark's directory, and checks that it fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def need(ok: bool, *info) -> None:
    if not ok:
        raise SystemExit(f"selftest failed: {info}")


def result_line(workload: str, trace: int, cwd: str = ROOT
                ) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    if p.returncode != 0 and cwd == ROOT:
        print(p.stderr[-4000:], file=sys.stderr)
    return p.returncode, res


def check_metrics(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = result_line(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            need(rc == 0 and res is not None, w["name"], trace, rc)
            need(set(res) == {"correct", "attempted", "failed", "metrics"},
                 res)
            need(res["correct"] and res["failed"] == 0, res)
            need(res["attempted"] >= 1, res)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            need(got == want, w["name"], trace, set(got) ^ set(want),
                 {k for k in got if got[k] != want.get(k)})
            need(all(isinstance(v["value"], (int, float))
                     for v in res["metrics"].values()), res)
            print(f"ok: {w['name']} trace={trace}: {len(got)} metrics")


def check_corruption() -> None:
    import run

    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    os.makedirs(work)
    run.use_tree(work)
    import workloads
    from guac_spark.warehouse import Warehouse

    spark = None
    try:
        spark = run.start_session(work, 2, run.host_ram_gb())
        r = workloads.Run(spark, work, 7, traced=False, session_s=0.0)
        inputs = workloads.gen.stage_inputs(work, workloads.BUILD_EVENTS, 7,
                                            with_docs=False)
        expect = workloads.check.oracle_fingerprints(inputs)
        wh_root = os.path.join(work, "wh")
        workloads.build(r, inputs, wh_root)
        r.outcome(workloads.check_build(wh_root, expect), "clean build")
        need(r.failed == 0, "an uncorrupted build failed its check")
        # drop one row of the committed edges snapshot
        snap = Warehouse(wh_root).committed_paths("edges")[0]
        part = next(os.path.join(snap, f) for f in sorted(os.listdir(snap))
                    if f.endswith(".parquet")
                    and pq.read_metadata(os.path.join(snap, f)).num_rows)
        t = pq.read_table(part)
        pq.write_table(t.slice(1), part)
        r.outcome(workloads.check_build(wh_root, expect), "corrupt build")
        need(r.failed == 1 and r.attempted == 2, r.failed, r.attempted)
        print("ok: a corrupted edges table counts as failed")
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def check_missing_package(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = result_line(spec["workloads"][0]["name"], 0, cwd=bare)
        need(rc != 0 and res is None, rc, res)
        print("ok: fails without the package")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_missing_package(spec)
    check_corruption()
    check_metrics(spec)
    print("selftest passed")


if __name__ == "__main__":
    main()
