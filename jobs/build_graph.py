"""spark-submit entry point: build (or resume) the transcript KG.

Usage (cluster shape; local[] master for the sandbox):

    scripts/make_pyfiles.sh     # -> dist/guac_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/guac_spark.zip \\
        jobs/build_graph.py \\
        --sf-dir /root/testdata/sf0.1 \\
        --warehouse /tmp/guac_wh \\
        [--resume]

On a real cluster only --master and the I/O paths change: the job reads an
Iceberg/parquet transcripts table, writes snapshot-committed vertex/edge/
metrics tables, and a killed run re-submitted with --resume continues from
the last committed snapshot.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args(argv)

    # spark-submit provides the session; getOrCreate attaches to it
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("guac_spark_build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # runtime-settable engine confs (static ones — master, memory,
    # spark.io.compression.codec — belong on the spark-submit line)
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        spark.conf.set(k, v)

    from guac_spark.pipeline import run_pipeline

    t0 = time.time()
    res = run_pipeline(
        spark,
        args.sf_dir,
        warehouse_root=args.warehouse,
        resume=args.resume,
    )
    print(
        json.dumps(
            {
                "stages_run": res.stages_run,
                "stages_skipped": res.stages_skipped,
                "stage_secs": res.stage_secs,
                "triples": res.triples,
                "wall_sec": round(time.time() - t0, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
