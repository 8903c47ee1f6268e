"""spark-submit entry point for the KG-construction job.

Usage (cluster):
    zip -r mel_tnnt_spark.zip mel_tnnt_spark
    spark-submit --py-files mel_tnnt_spark.zip mel_tnnt_spark/main.py \
        --output /path/out --lineage /path/lineage --rows 200

On a real deployment `--source-table catalog.db.code_files` replaces
the synthetic generator. Prints one JSON line of run metrics
(triples/sec — the BASELINE.md throughput headline), with `calls`
saying where the time went: wall seconds and Spark jobs per call
(pipeline, write, record, quarantine).
"""

from __future__ import annotations

import argparse
import json
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


class CallTimer:
    """Runs each named call under its own Spark job group and records
    its wall time. The job counts are read back from the status
    tracker once the listener bus has caught up — no Spark action."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}

    @contextmanager
    def call(self, name: str):
        self.sc.setJobGroup(f"kg-{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()

    def report(self) -> dict[str, dict[str, float]]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        return {
            name: {
                "wall_s": round(wall, 3),
                "jobs": len(tracker.getJobIdsForGroup(f"kg-{name}")),
            }
            for name, wall in self.wall.items()
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True, help="triples output dir")
    ap.add_argument("--lineage", default=None, help="lineage table dir (enables resume)")
    ap.add_argument("--rows", type=int, default=200, help="synthetic source rows")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--batch-id",
        default=None,
        help="explicit id = replay-idempotent rewrite of that batch's "
        "partition; default = fresh unique id per resume run",
    )
    args = ap.parse_args()

    # Under spark-submit the session/master come from the launcher.
    spark = SparkSession.builder.appName("mel-tnnt-kg").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from mel_tnnt_spark.datagen import code_files_df
    from mel_tnnt_spark.operators.lineage import record_done, record_partition_metrics
    from mel_tnnt_spark.operators.triples import write_triples
    from mel_tnnt_spark.pipeline import run_pipeline

    import os

    src = code_files_df(spark, n_rows=args.rows, seed=args.seed)
    timer = CallTimer(spark)
    t0 = time.time()
    with timer.call("pipeline"):
        res = run_pipeline(spark, src, lineage_path=args.lineage)
    # One consistent batch_id=/pred= layout for fresh AND resume runs
    # (mixing layouts in one dir breaks partition discovery). A fresh
    # run statically overwrites the whole table; resume runs write ONLY
    # their own batch partition (dynamic partition overwrite) so
    # earlier batches' triples survive. Replaying a failed batch
    # rewrites the same partition — idempotent. An empty pending set
    # skips the write entirely.
    resuming = args.lineage is not None and os.path.exists(args.lineage)
    batch_id = args.batch_id
    if batch_id is None:
        # unique-by-default: a resume delta must land in its OWN batch
        # partition — reusing a previous id would dynamically overwrite
        # that batch with only the delta (data loss). Explicit ids are
        # for replaying the SAME batch (idempotent rewrite).
        # The counter comes from the LINEAGE table, not output dirs: a
        # run that crashed after the triples write committed but before
        # record_done leaves its batch_id= dir behind with no lineage
        # row, and the docs it covered are still pending. Counting dirs
        # would pick a NEW id and duplicate those triples; counting
        # recorded batches replays into the SAME partition, where the
        # dynamic overwrite makes the retry idempotent.
        # max(parsed index)+1, not count: a count collides with any
        # explicit --batch-id batch-K (K >= count) recorded earlier and
        # would dynamically overwrite that batch with only the delta
        next_idx = 0
        if resuming:
            from pyspark.sql import functions as F

            from mel_tnnt_spark.operators.lineage import read_lineage

            prev = (
                read_lineage(spark, args.lineage)
                .where(F.col("stage") == "kg")
                .select(
                    F.regexp_extract("batch_id", r"^batch-(\d+)$", 1).alias("idx")
                )
                .where(F.col("idx") != "")
                .agg(F.max(F.col("idx").cast("long")))
                .first()[0]
            )
            next_idx = int(prev) + 1 if prev is not None else 0
        batch_id = f"batch-{next_idx}"
    with timer.call("write"):
        res.triples.persist()  # consumed by count + write + metrics
        n_triples = res.triples.count()
        if n_triples:
            write_triples(
                res.triples, args.output, batch_id=batch_id, full=not resuming
            )
    with timer.call("quarantine"):
        n_quarantined = res.quarantined.count()
    elapsed = time.time() - t0
    if args.lineage is not None:
        with timer.call("record"):
            record_done(res.metadata, args.lineage, "kg", batch_id)
            # per-partition counters next to the lineage table: skew in
            # the mention stage shows up as an outlier (partition_id,
            # rows) row
            if n_triples:
                record_partition_metrics(
                    res.triples, args.lineage + "_pmetrics", "triples", batch_id
                )
    res.triples.unpersist()
    print(
        json.dumps(
            {
                "triples": n_triples,
                "quarantined": n_quarantined,
                "elapsed_sec": round(elapsed, 2),
                "triples_per_sec": round(n_triples / elapsed, 2) if elapsed else None,
                "calls": timer.report(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
