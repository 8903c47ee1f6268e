"""Checkpoint / lineage / resume + the sha256 row invariant.

Reference anchors (SURVEY.md §2.9): skip-already-processed docs
(code/MEL/__init__.py:2365-2368), per-model incremental completion
(2416-2423), not-in-NER-db anti-join (code/NLP_NER/Sampling.py:244-254),
run counters (code/MEL/__init__.py:2223, 2284), critical-exception
quarantine flow (812-815, 1108-1109).

Rebuild semantics:
- lineage table rows: (doc_id, content_sha, stage, batch_id) — appended
  once per successfully processed doc per stage.
- resume = left_anti join of the source against lineage on
  (doc_id, content_sha): re-running over the same snapshot is a no-op;
  a changed content_sha (new commit) re-processes exactly that row.
- invariant: sha2(content, 256) must equal the carried content_sha;
  violations are routed to a quarantine table, never fail the job.
- counters: collected via DataFrame.observe() — aggregated on the
  executors, no extra actions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = "doc_id string, content_sha string, stage string, batch_id string"


def enforce_sha_invariant(src: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split source rows into (valid, quarantined) on the per-row
    invariant sha256(content) == content_sha (BASELINE.json input_hint).
    Returns two lazy DataFrames off one scan."""
    # Null-safe: a NULL content_sha must land in quarantine, not vanish
    # (a bare `==` yields NULL, which fails BOTH where() branches).
    checked = src.withColumn(
        "_sha_ok",
        F.coalesce(
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256) == F.col("content_sha"),
            F.lit(False),
        ),
    )
    valid = checked.where(F.col("_sha_ok")).drop("_sha_ok")
    quarantined = checked.where(~F.col("_sha_ok")).drop("_sha_ok")
    return valid, quarantined


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame:
    """The lineage table; empty when none is recorded yet. The empty
    frame carries a false filter so the optimizer sees it is empty and
    folds a resume anti-join against it away (an empty parallelized
    frame alone still plans the join and runs a broadcast job for it)."""
    if os.path.exists(lineage_path):
        return spark.read.parquet(lineage_path)
    return spark.createDataFrame([], LINEAGE_SCHEMA).where(F.lit(False))


def pending_only(docs: DataFrame, lineage: DataFrame, stage: str) -> DataFrame:
    """P5/P6/J5 — anti-join resume: keep docs not yet recorded for this
    stage at this content_sha."""
    done = lineage.where(F.col("stage") == stage).select("doc_id", "content_sha")
    return docs.join(done, ["doc_id", "content_sha"], "left_anti")


def record_done(docs: DataFrame, lineage_path: str, stage: str, batch_id: str) -> None:
    """Append lineage rows for processed docs. On Iceberg this is an
    atomic snapshot commit; parquet append is the sandbox stand-in."""
    (
        docs.select("doc_id", "content_sha")
        .distinct()
        .withColumn("stage", F.lit(stage))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(lineage_path)
    )


def partition_metrics(df: DataFrame) -> DataFrame:
    """Per-PARTITION counters (north-star: 'every stage checkpoints
    per-partition lineage and counters'): one row per task partition
    with row count and distinct-doc estimate. Computed with a single
    map-side-combined groupBy on spark_partition_id() — at 1000
    executors this is one tiny shuffle of O(partitions) rows. Persist
    next to the lineage table per stage/batch to expose skew (a hot
    partition shows up as an outlier row, the salting trigger)."""
    key = "doc_id" if "doc_id" in df.columns else ("subj" if "subj" in df.columns else None)
    docs = F.approx_count_distinct(key) if key else F.lit(None).cast("long")
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows"),
        docs.alias("docs"),
    )


def record_partition_metrics(
    df: DataFrame, metrics_path: str, stage: str, batch_id: str
) -> None:
    """Append per-partition counters for this stage/batch (parquet
    stand-in for the Iceberg metrics table)."""
    (
        partition_metrics(df)
        .withColumn("stage", F.lit(stage))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(metrics_path)
    )


def observed_counts(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """A12 — run counters via observe(): rows + distinct-ish doc count
    computed during the action that consumes `df`, no second pass."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("doc_id").alias("docs"),
    )
    return out, obs
