"""Incremental / streaming ingestion.

The analog of GUAC's service mode — collectors publish documents to NATS,
the processor subscribes, processes, and acks exactly-once
(/root/reference/pkg/handler/collector/collector.go:84-120,
pkg/handler/processor/process/process.go:85-164). Spark-first shape:

  * Structured Streaming file source over a transcripts directory (new
    parquet files = newly collected documents);
  * Trigger.AvailableNow drains everything collected so far and stops
    (batch-incremental, the GUAC poll-loop analog);
  * foreachBatch runs the extraction stage per micro-batch and lands the
    output under a _batch_id partition via dynamic partition overwrite;
    the streaming checkpoint is the ack — a re-run never reprocesses
    acknowledged files, and a replayed (crashed-before-ack) batch
    overwrites its own partition instead of duplicating rows, so the sink
    is exactly-once end to end.

GUAC has no windows/watermarks in its temporal logic (SURVEY.md §2.8);
`windowed_mention_counts` below adds standard event-time windowing +
watermarked late-data handling anyway, since any transcript feed at
10^12-turn scale arrives out of order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import extract, link

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    alias_dict: DataFrame,
    _crash_after: int | None = None,
) -> int:
    """Drain new transcript files -> linked mentions appended to out_root.

    Returns the number of micro-batches processed this invocation (0 when
    everything was already acknowledged). Safe to call repeatedly; the
    checkpoint under out_root/_checkpoint is the exactly-once ledger.

    _crash_after=N is FAULT INJECTION for the kill-mid-drain resume test
    (VERDICT r5 order #5): the query dies after the Nth micro-batch's sink
    WRITE but before its checkpoint ack — the worst-case crash window. On
    restart the unacked batch replays and dynamic partition overwrite
    rewrites its own partition, so the sink stays exactly-once.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    out_path = os.path.join(out_root, "mentions_linked_stream")
    ckpt = os.path.join(out_root, "_checkpoint")
    n_batches = {"n": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        staged = extract.dedupe_staging(batch_df)
        mentions = extract.mentions_only(
            extract.extract_mentions_fused(staged)
        )
        linked = link.link_exact(mentions, alias_dict)
        # idempotent per-batch sink: dynamic partition overwrite keyed by
        # _batch_id — a crash/retry after the write but before the
        # streaming checkpoint commits replays the micro-batch and simply
        # overwrites its own partition, so foreachBatch + this sink is
        # exactly-once end to end (extraction output is deterministic)
        (
            linked.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )
        n_batches["n"] += 1
        if _crash_after is not None and n_batches["n"] >= _crash_after:
            raise RuntimeError("injected crash: written but not acked")

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def stateful_conversation_progress(
    spark: SparkSession,
    input_dir: str,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-conversation running state (turns seen, max turn_idx, last
    event time) maintained across micro-batches — the arbitrary-stateful
    shape (GroupState) that windows/watermarks can't express, e.g. GUAC's
    per-package scan ledger kept incrementally instead of re-derived.

    Emits one row per conversation per micro-batch in which it received
    data; state persists in the checkpointless in-memory run here
    (AvailableNow drains everything, so the final emission reflects all
    input). State never times out (GroupStateTimeout.NoTimeout): an idle
    conversation keeps its row.
    """
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)

    out_schema = (
        "conv_id string, n_turns long, max_turn_idx int, last_ts timestamp"
    )
    state_schema = "n long, mx int, last timestamp"

    def update(key, pdfs, state: GroupState):
        n, mx, last = state.get if state.exists else (0, -1, None)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
                ts = pdf["ts"].max()
                last = ts if last is None else max(last, ts)
        state.update((n, mx, last))
        import pandas as pd

        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n], "max_turn_idx": [mx],
             "last_ts": [last]}
        )

    agg = stream.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "guac_conv_progress"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # latest emission per conversation = the final state
    from pyspark.sql import Window

    res = spark.sql(f"SELECT * FROM {name}")
    w = Window.partitionBy("conv_id").orderBy(F.desc("n_turns"))
    return (
        res.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def windowed_mention_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 day",
    watermark: str = "2 days",
    output_mode: str = "append",
) -> DataFrame:
    """Event-time windowed mention volume with late-data watermark.

    output_mode='append' (default) is the 10^12-turn shape: a window is
    emitted exactly once, when the watermark passes its end, and its state
    is then evicted — late data beyond the watermark is dropped and state
    stays bounded. Windows still open when the AvailableNow drain stops
    are intentionally NOT emitted (they'd emit on the next drain).
    output_mode='complete' re-emits every window each trigger and retains
    all state (watermark inert) — demo/debug only, unbounded state.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    )
    mentions = stream.select(
        "ts",
        F.explode(
            F.regexp_extract_all("text", F.lit(extract.PERSON_RE), F.lit(1))
        ).alias("surface"),
    )
    agg = (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "surface")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            "surface",
            "n",
        )
    )
    name = "guac_windowed_mentions"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")
