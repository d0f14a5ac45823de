"""Builds the graph the query_mix workload reads, once per source tree.

    python3 perfbench/querygraph.py

run.py starts this as a child process when the cached graph under
`.perfbench_cache/` is missing or stale, so that the build runs in a
Spark session of its own.
"""

from __future__ import annotations

import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.WORK_ROOT, f"query_graph-{os.getpid()}")
    os.makedirs(work)
    run.use_tree(work)
    spark = None
    try:
        import workloads

        spark = run.start_session(work, run.spark_cores(), run.host_ram_gb())
        workloads.build_query_graph(spark)
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
