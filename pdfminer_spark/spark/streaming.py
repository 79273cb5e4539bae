"""Structured Streaming front-end for the extraction pipeline.

The reference is purely batch (SURVEY.md §2.8); this is the Spark-native
continuous-ingest variant: new transcript files land in a directory (or a
Kafka topic / Iceberg incremental scan in production), each micro-batch runs
the identical extraction stage, and the sink commits with exactly-once
semantics via the streaming checkpoint.

Also provides a watermarked per-conversation turn-rate aggregation as the
late-data/windowing example (event-time ``ts`` column).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures import TRANSCRIPTS_SCHEMA
from .pipeline import extract_transcripts


def _parquet_sink(df: DataFrame, output_path: str, checkpoint_path: str,
                  available_now: bool):
    """Start ``df``'s append-mode parquet sink, exactly-once via the
    checkpoint; ``available_now`` drains the input present now and stops.
    Returns the StreamingQuery."""
    writer = (
        df.writeStream
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_transcript_stream(spark: SparkSession, input_path: str,
                           max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def extraction_query(spark: SparkSession, input_path: str, output_path: str,
                     checkpoint_path: str, page_numbers=None,
                     available_now: bool = False):
    """Streaming extraction: parquet-dir source -> mapInPandas -> parquet
    sink, exactly-once via the checkpoint. Returns the StreamingQuery."""
    stream = read_transcript_stream(spark, input_path)
    extracted = extract_transcripts(stream, page_numbers=page_numbers,
                                    repartition=False)
    return _parquet_sink(extracted, output_path, checkpoint_path,
                         available_now)


def turn_rate_query(spark: SparkSession, input_path: str, output_path: str,
                    checkpoint_path: str, window: str = "10 minutes",
                    watermark: str = "30 minutes",
                    available_now: bool = False):
    """Watermarked event-time aggregation: turns per conversation per
    window; late turns beyond the watermark are dropped (state bounded)."""
    stream = read_transcript_stream(spark, input_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id", "n_turns",
        )
    )
    return _parquet_sink(agg, output_path, checkpoint_path, available_now)


def dedup_stream(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint_path: str, watermark: str = "1 hour",
                 available_now: bool = False):
    """Streaming exact dedup: keep the first occurrence of each content
    hash ACROSS micro-batches. State is the seen-hash set, bounded by
    the event-time watermark (a duplicate arriving later than the
    watermark horizon is admitted — the documented trade for bounded
    state; at corpus scale the horizon is set to the ingest lateness
    SLA). Only the 32-char digest is kept in state, not the text."""
    stream = read_transcript_stream(spark, input_path)
    hashed = stream.select(
        "conv_id", "turn_idx", "ts",
        F.md5(F.col("text")).alias("content_hash"),
    )
    deduped = (hashed.withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["content_hash"]))
    return _parquet_sink(deduped, output_path, checkpoint_path, available_now)


def conversation_progress_query(spark: SparkSession, input_path: str,
                                output_path: str, checkpoint_path: str,
                                available_now: bool = False):
    """Custom stateful operator (SURVEY §2.8 'applyInPandasWithState for
    custom stateful operators'): running per-conversation progress —
    cumulative turn count and text bytes — updated incrementally as
    micro-batches arrive, emitting one row per conversation per batch.
    State per key is two integers; GroupStateTimeout is disabled here
    (the fixture streams are finite), production sets an event-time
    timeout to bound state like the dedup op above."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_transcript_stream(spark, input_path)

    out_schema = ("conv_id string, n_turns long, n_bytes long")
    state_schema = "n_turns long, n_bytes long"

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        n_turns, n_bytes = (state.get if state.exists else (0, 0))
        for pdf in pdfs:
            n_turns += len(pdf)
            n_bytes += int(pdf["text"].str.len().sum())
        state.update((n_turns, n_bytes))
        yield pd.DataFrame({"conv_id": [conv_id], "n_turns": [n_turns],
                            "n_bytes": [n_bytes]})

    progressed = (
        stream.select("conv_id", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(update, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )
    return _parquet_sink(progressed, output_path, checkpoint_path,
                         available_now)


def turn_merge_query(spark: SparkSession, input_path: str,
                     output_path: str, checkpoint_path: str,
                     available_now: bool = False):
    """Stateful streaming turn segmentation — the continuous-ingest
    analogue of ops/transcripts.cues_to_turns: consecutive same-role
    turns of a conversation merge into one segment as micro-batches
    arrive. Per-key state carries only the OPEN trailing segment
    (role, first turn_idx, turn count, joined text); a role change
    closes and emits the previous segment, so each row is emitted at
    most once and state is O(1) per conversation. The fixture streams
    are finite so no timeout is set; production bounds the open
    segment with an event-time timeout exactly like dedup_stream.
    Within a batch rows are processed in turn_idx order (the stable
    turn ordering of the north rule)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_transcript_stream(spark, input_path)

    out_schema = ("conv_id string, seg_start_turn long, n_turns long, "
                  "role string, text string")
    state_schema = ("role string, seg_start_turn long, n_turns long, "
                    "text string")

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        (role, start, n, text) = (state.get if state.exists
                                  else (None, -1, 0, ""))
        emitted = []
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("turn_idx")
        for (turn_idx, r, t) in zip(rows["turn_idx"], rows["role"],
                                    rows["text"]):
            if role == r:
                n += 1
                text = text + " " + str(t)
            else:
                if role is not None:
                    emitted.append((conv_id, start, n, role, text))
                (role, start, n, text) = (str(r), int(turn_idx), 1, str(t))
        state.update((role, start, n, text))
        yield pd.DataFrame(emitted, columns=[
            "conv_id", "seg_start_turn", "n_turns", "role", "text"])

    merged = (
        stream.select("conv_id", "turn_idx", "role", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(update, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )
    return _parquet_sink(merged, output_path, checkpoint_path, available_now)
