"""Build-and-query benchmark for guac_spark.

    python3 perfbench/run.py --workload build_small|query_mix --seed N \
        --seconds S --trace 0|1

Run from the root of a source tree. Inputs are generated from --seed
under `.perfbench_work/` in that tree, which is removed on exit; Spark's
scratch, temp and warehouse directories live there too. The query graph
is kept under `.perfbench_cache/` for later runs. The last line
of standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the line before it records the host and versions. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer metrics of a run
with spans around the package's layers. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def use_tree(work: str) -> None:
    """Make the driver, the JVMs and the Python workers resolve the
    package from this tree and keep their temp files under work."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the launcher's too: temp files here, no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def spark_cores() -> int:
    """Task threads for Spark: half the cores. A task running one of the
    pipeline's Arrow UDFs keeps a Python worker busy beside it, and the
    driver, JIT and GC threads need cores too. At 4 cores and local[4],
    a build kept the JVM at about 2.5 cores and the Python workers at 3,
    so its wall time measured the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(work: str, cpus: int, ram_gb: float):
    """A session sized to the host, with every scratch path under work."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(2, min(8, int(ram_gb // 4)))}g"
    from guac_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context and the JVM it launched, and wait for the JVM."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def build_query_graph() -> None:
    """Build the graph query_mix reads in a child process with a session
    of its own, so that the build does not warm the session the run
    measures. Not part of setup_s."""
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "querygraph.py")],
                   check=True, timeout=600)
    print(f"perfbench: query graph built in {time.perf_counter() - t0:.1f} s",
          file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "guac_spark", "__init__.py")):
        print(f"perfbench: no guac_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    use_tree(work)

    spark = None
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose "
                  f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        if args.workload == "query_mix" and not workloads.query_graph_ready():
            build_query_graph()
        nproc = len(os.sched_getaffinity(0))
        cpus = spark_cores()
        ram_gb = host_ram_gb()
        steal0, total0 = cpu_ticks()
        t0 = time.perf_counter()
        spark = start_session(work, cpus, ram_gb)
        session_s = time.perf_counter() - t0
        run = workloads.Run(spark, work, args.seed, bool(args.trace),
                            session_s)
        e2e, per_layer = workloads.WORKLOADS[args.workload](run, args.seconds)
        import pyspark

        steal1, total1 = cpu_ticks()
        print(json.dumps({"host": {
            "nproc": nproc,
            "spark_cores": cpus,
            "ram_gb": round(ram_gb, 1),
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "python": platform.python_version(),
            "git_sha": git_sha(),
            # share of CPU time the hypervisor gave to other guests while
            # this run was measured: wall-time metrics rise with it
            "cpu_steal_share": round(
                (steal1 - steal0) / max(1, total1 - total0), 3),
            "workload": args.workload,
            "seed": args.seed,
        }}))
        units = workloads.units()
        chosen = per_layer if args.trace else e2e
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in chosen.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
