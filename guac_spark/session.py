"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; every conf below is the
one we would ship to a 1000-executor cluster, with the local-only knobs
(shuffle partitions ~ cores) computed from the requested parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "guac_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Cluster-minded defaults:
      * AQE on (runtime coalescing, skew-join splitting) — hot aggregation
        keys need no salting: min/count are algebraic, so map-side partial
        aggregation already collapses them (cc.py); AQE splits skewed
        joins.
      * Arrow on — all per-turn text work is pandas/Arrow UDFs, never
        row-at-a-time Python.
      * session TZ pinned UTC so timestamps compare exactly against the
        DuckDB oracle.
    """
    cpus = cpus or DEFAULT_CPUS
    # 4 waves per stage: partitions ≫ cores packs stragglers instead of
    # letting one slow task idle the whole pool at a stage barrier
    shuffle = max(4 * cpus, 16)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd: fewer bytes through the shared disk/page-cache path at the
        # cost of (abundant, parallel) CPU — the right trade at cluster
        # scale and for single-box core-scaling alike
        # always honor bucket layouts on scan: autoBucketedScan only keeps
        # bucketing for join/agg consumers, but this pipeline's consumers
        # include bucketed WRITES (transcripts -> mentions_linked rides the
        # bucket layout end-to-end with zero exchanges) which the
        # heuristic doesn't recognize
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
        # bucket-aligned writes hold one (occasionally two) open bucket
        # files per task; concurrent writers skip the whole-partition
        # sort-by-bucket-id the V1 write path otherwise inserts (falls
        # back to the sort automatically past this many open files)
        .config("spark.sql.maxConcurrentOutputFileWriters", "8")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # scan-split floor (guide §6): the test SFs are single small
        # parquet files, and with the default 4 MB openCostInBytes a
        # 16 MB file never splits below 4 tasks — heavyweight scan
        # stages (GROUPING SETS expand over events, Python banding over
        # documents) ran on ~4 of the requested cores (measured r7:
        # alias_dict stage 7.2s -> 1.2s at sf1.0/c32 with the floor).
        # Both values derive from the requested parallelism / the input,
        # not a bench constant: minPartitionNum is the documented
        # "suggested minimum split count" (2 waves per core), and the
        # lower open-cost only affects files under a few MB — a cluster
        # table's 128 MB - 1 GB files still split by maxPartitionBytes.
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def checkpoint_nostats(df):
    """localCheckpoint that also RESETS Catalyst's size statistics.

    `DataFrame.localCheckpoint` truncates lineage but copies the plan's
    estimated stats onto the resulting LogicalRDD (`originStats`). In an
    iterative self-join loop (connected components' pointer-doubling,
    label propagation) each round *multiplies* child `sizeInBytes`
    estimates, so the carried-over BigInt estimate grows ~3x in DIGITS per
    round; after ~12 rounds the driver spends minutes inside
    `SizeInBytesOnlyStatsPlanVisitor` multiplying million-digit
    BigIntegers (measured: 0.3s/round -> 84s/round by round 14 on a
    120-row graph). Rebuilding the DataFrame from the checkpointed
    InternalRow RDD drops `originStats`, pinning the estimate at
    `defaultSizeInBytes`; side effect: the loop's intermediates are never
    auto-broadcast, which is exactly right for an equivalence table of
    unknown (potentially huge) size. JVM-side only — no Python
    serialization.
    """
    from pyspark.sql import DataFrame as _DF

    ck = df.localCheckpoint(eager=True)
    jdf = ck._jdf
    jrdd = jdf.queryExecution().toRdd()
    spark = ck.sparkSession
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jrdd, jdf.schema(), False
    )
    out = _DF(new_jdf, spark)
    # handle to the backing block-cache, so iterative callers can free a
    # superseded checkpoint once its successor is materialized (the blocks
    # are the ONLY copy — unpersist strictly after the last read)
    out._ck_source = ck
    return out
