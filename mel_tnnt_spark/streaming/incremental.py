"""Structured Streaming front-end for the KG pipeline.

The reference has NO streaming surface (SURVEY.md §2.9) — its
incremental story is reload flags + skip-already-processed
(code/MEL/__init__.py:2365-2368, 2416-2423), which the batch pipeline
re-expresses as anti-join resume. This module is the stretch path: the
same stages as `mel_tnnt_spark.pipeline`, driven by `readStream` over
an append-only source directory, with `foreachBatch` performing the
per-micro-batch link/CC/materialize (those stages need batch-only ops:
joins with aggregates, iterative CC).

Design:
- stateless stages (metadata derivation, text analysis, mention
  detection) run INSIDE the stream — they are pure row-wise maps, so
  Spark pipelines them with zero state.
- per-batch stages run in foreachBatch against the batch DataFrame,
  writing triples with append semantics keyed by batch_id (idempotent
  replay: Structured Streaming re-runs a failed batch with the same id).
- maintained state (rollup, component labels, the dedup indexes, the
  packing/caps/closure/sample operators) is driven by one scaffold,
  `stream_maintain`, which hands each micro-batch and its
  (query id, batch id) to the operator.
- `mention_rate_stream` shows the event-time windowed-aggregation shape
  (watermark + tumbling window) used for monitoring pipelines.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mel_tnnt_spark.datagen import CODE_FILES_SCHEMA
from mel_tnnt_spark.operators import linking, mentions, metadata, summaries, triples
from mel_tnnt_spark.state import publish


def read_code_files_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Append-only parquet directory as a stream (Iceberg incremental
    scans play this role in production)."""
    return (
        spark.readStream.schema(CODE_FILES_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(source_dir)
    )


def streaming_mentions(stream: DataFrame) -> DataFrame:
    """Stateless prefix of the pipeline applied to a streaming frame:
    metadata derivation + text analysis + mention detection. NOTE:
    latest-commit dedup is a global aggregate, so in streaming it moves
    to the per-batch stage / compaction; here every arriving commit
    yields mentions (append semantics)."""
    meta = metadata.filter_processable(metadata.with_general_metadata(stream))
    return mentions.detect_mentions(
        meta.select("doc_id", "content"), text_col="content", preprocess=True
    )


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """End-to-end incremental run over everything available now: stream
    mentions, then per batch canonicalize -> link -> triples -> append.
    Returns the started query."""
    ments = streaming_mentions(read_code_files_stream(spark, source_dir))
    label_map = summaries.label_classification_df(spark)
    aliases = linking.alias_dict_df(spark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        canon = summaries.canonicalize(batch_df, label_map)
        linked = linking.link_mentions(canon, aliases)
        ent_dim = linked.select("entity_id", "canonical", "linked_label").distinct()
        # identity canonicalization within the batch; cross-batch identity
        # is reconciled by the periodic batch compaction job
        from mel_tnnt_spark.operators import components

        ents = components.canonical_entities(linked, ent_dim=ent_dim)
        docs = batch_df.select("doc_id").distinct().withColumn("repo", F.lit(None).cast("string"))
        trip = triples.build_triples(docs, linked, ents, ent_dim=ent_dim).where(
            F.col("pred") != "tnnt:partOf"
        )
        # Idempotent replay: Structured Streaming re-runs a failed batch
        # with the SAME batch_id, so overwrite that batch's partition
        # (dynamic mode) instead of appending — a batch that committed
        # the write but crashed before the checkpoint advanced is simply
        # rewritten, never duplicated.
        (
            trip.withColumn("batch_id", F.lit(str(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    return (
        ments.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain(
    stream: DataFrame,
    apply,
    checkpoint_dir: str,
    out_path: str | None = None,
) -> DataStreamWriter:
    """The one foreachBatch scaffold for maintained state: every
    non-empty micro-batch is handed to `apply(batch_df, txn)`, where
    `txn = (query id, batch id)`. The query id is read from the
    checkpoint's `metadata` file, so it is stable across restarts of
    this checkpoint and new for any fresh one. Returns the configured
    writer; start it with `.trigger(availableNow=True).start()`.

    Structured Streaming re-runs the last uncommitted batch after a
    failure, with the same batch id. An operator whose commit is
    additive passes `txn` to `merge_sink.merge_upsert`, which records
    it in the manifest in the same pointer swap as the data, so the
    replay is a no-op (`operators.rollup.maintain_rollup`,
    `operators.components.maintain_components`). The other maintained
    operators are replay-safe for that batch on their own and ignore
    `txn`.

    With `out_path`, the frame `apply` returns is published as the
    entry `batch=<query id>-<batch id>`; a replayed batch replaces its
    entry. Read the published output with `read_stream_output`."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            query_id = json.load(f)["id"]
        out = apply(batch_df, (query_id, batch_id))
        if out_path is not None:
            publish(out, out_path, f"batch={query_id}-{batch_id}")

    return stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def read_stream_output(spark: SparkSession, out_path: str) -> DataFrame:
    """Everything `stream_maintain` published under `out_path`: the
    union of the per-batch entries."""
    return (
        spark.read.option("basePath", out_path)
        .parquet(f"{out_path}/batch=*")
        .drop("batch")
    )


def mention_rate_stream(events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window counts — the standard late-data shape
    (per event_type). `events` must be a streaming frame with `ts`."""
    # parquet timestamps read as TIMESTAMP_NTZ; watermarks need TIMESTAMP
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            F.col("count").alias("cnt"),
        )
    )
