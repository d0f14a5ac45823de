"""Interleaved A/B/N benchmark between git refs (VERDICT r3 wrong #2).

Settles whether a throughput delta between rounds is code or host state:
every ref runs from its own clean worktree, legs interleaved on
byte-identical shared input, medians reported. The leg that runs first
rotates each rep (A B C, B C A, C A B, ...; with two legs, A B then B A)
so no leg always pays or dodges first-run host state.

    python scripts/ab_interleave.py --refs c7a2a48 4a6ce39 HEAD \
        --runs 3 --cpus 4 --repl 256

--trees takes source directories instead of refs (e.g. a `git archive`
export of the parent next to the working tree), and --sf-dir runs an
existing corpus instead of a replica:

    python scripts/ab_interleave.py --trees ../parent . \
        --runs 5 --cpus 4 --sf-dir <corpus dir, e.g. sf0.1>

Prints one JSON line: per-leg raw pipeline seconds + turns/sec, medians,
each leg's throughput ratio vs the first, and the leg order of every rep.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from run_scaling import prepare_replica  # noqa: E402


def worktree(ref: str) -> str:
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", ref],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    path = os.path.join(ROOT, ".ab", sha[:12])
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run(
            ["git", "-C", ROOT, "worktree", "add", "--detach", path, sha],
            check=True, capture_output=True,
        )
    return path


def run_leg(tree: str, cpus: int, sf_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_PIPELINE_ONLY="1",
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_REPL="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        env=env, capture_output=True, text=True, check=True, cwd=tree,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    legs_src = ap.add_mutually_exclusive_group(required=True)
    legs_src.add_argument("--refs", nargs="+",
                          help="git refs, first is the comparison baseline")
    legs_src.add_argument("--trees", nargs="+",
                          help="source directories, first is the baseline")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--repl", type=int, default=256)
    ap.add_argument("--sf-dir", help="existing corpus; skips replication")
    args = ap.parse_args()

    sf = args.sf_dir or prepare_replica(args.repl)
    if args.trees:
        trees = {t: os.path.abspath(t) for t in args.trees}
    else:
        trees = {r: worktree(r) for r in args.refs}
    names = list(trees)
    legs: dict[str, list] = {r: [] for r in names}
    orders = []
    for i in range(args.runs):
        k = i % len(names)
        orders.append(names[k:] + names[:k])
        for r in orders[-1]:
            print(f"run {i + 1}/{args.runs} [{r}]...",
                  file=sys.stderr, flush=True)
            legs[r].append(run_leg(trees[r], args.cpus, sf))

    meds = {
        r: statistics.median(d["turns_per_sec"] for d in legs[r])
        for r in names
    }
    base = names[0]
    print(json.dumps({
        "refs": names,
        "sf_dir": sf,
        "repl": 1 if args.sf_dir else args.repl,
        "cpus": args.cpus,
        "runs": args.runs,
        "order_runs": orders,
        "turns": legs[base][0]["turns"],
        "pipeline_sec_runs": {
            r: [d["value"] for d in legs[r]] for r in names
        },
        "turns_per_sec_runs": {
            r: [d["turns_per_sec"] for d in legs[r]] for r in names
        },
        "median_turns_per_sec": meds,
        "ratio_vs_first": {
            r: round(meds[r] / meds[base], 4) for r in names
        },
        "stage_secs_last": {
            r: legs[r][-1]["stage_secs"] for r in names
        },
    }))


if __name__ == "__main__":
    main()
