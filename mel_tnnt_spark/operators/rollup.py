"""Hypertable-style time-bucketed rollup with incremental maintenance.

The TimescaleDB continuous-aggregate shape (task-brief custom-operator
family): raw events land continuously; a rollup table keyed on
(time_bucket, dimension) holds pre-aggregated counts/sums; each new
batch refreshes ONLY the buckets it touches instead of recomputing the
aggregate from scratch.

Spark-first composition — nothing custom at the physical layer:
- `time_rollup` is one groupBy (map-side partial agg) over the batch;
- `maintain_rollup` merges the batch's partial aggregates into the
  stored rollup by re-aggregating batch + affected stored rows and
  MERGE-writing them back (operators/merge_sink.py, the Iceberg
  MERGE INTO stand-in). Buckets untouched by the batch are never read
  beyond the anti-join, never rewritten.

Counts and sums re-aggregate exactly (they are semigroup merges:
cnt_a+cnt_b, sum_a+sum_b), so incremental maintenance is lossless —
pinned by the test against a from-scratch rollup of the full history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def time_rollup(
    events: DataFrame,
    ts: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    value: str = "value",
    bucket: str = "1 hour",
) -> DataFrame:
    """One-shot rollup: (bucket_start, *dims) -> n_events, total_value.
    window(ts, bucket) is codegen'd; map-side combine does the heavy
    lifting, the shuffle carries only aggregate rows."""
    return (
        events.groupBy(F.window(ts, bucket).alias("w"), *dims)
        .agg(F.count("*").alias("n_events"), F.sum(value).alias("total_value"))
        .select(F.col("w.start").alias("bucket_start"), *dims, "n_events", "total_value")
    )


def maintain_rollup(
    spark: SparkSession,
    rollup_path: str,
    batch: DataFrame,
    ts: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    value: str = "value",
    bucket: str = "1 hour",
    txn: tuple[str, int] | None = None,
) -> None:
    """Incremental refresh: merge the batch's partial rollup into the
    stored table. Only buckets present in the batch are recomputed
    (stored + delta re-aggregated); everything else is untouched.

    The merge ADDS, so re-applying a batch counts it twice. Exactly-once
    via `txn` (app id, version), which `merge_upsert` records in the
    same commit as the data: a replayed batch is a no-op
    (`streaming.incremental.stream_maintain` passes its
    (query id, batch id)). Stream == scratch and a kill after the
    commit are pinned in tests/test_streaming.py."""
    from mel_tnnt_spark.operators.merge_sink import (
        current_snapshot,
        expire_snapshots,
        merge_upsert,
        read_merged,
    )

    keys = ("bucket_start", *dims)
    delta = time_rollup(batch, ts, dims, value, bucket)
    if current_snapshot(rollup_path) is not None:
        stored = read_merged(spark, rollup_path)
        affected = stored.join(delta.select(*keys).distinct(), list(keys), "inner")
        merged = (
            affected.unionByName(delta)
            .groupBy(*keys)
            .agg(F.sum("n_events").alias("n_events"), F.sum("total_value").alias("total_value"))
        )
    else:
        merged = delta
    merge_upsert(spark, rollup_path, merged, keys=keys, txn=txn)
    expire_snapshots(rollup_path, keep_last=1)  # no history kept
