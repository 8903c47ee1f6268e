"""Streaming CC maintainer at scale (VERDICT r3 #5).

Drives `maintain_components` through `stream_maintain` over >=100
micro-batches totaling >=1M edges, records per-batch latency from the
StreamingQueryListener progress events, and verifies the final
persisted labeling equals from-scratch `connected_components` over the
full edge history.

Edge graph (deterministic, no RNG): ~1.05M edges over 1.05M nodes —
per batch b (0..104): 10k edges forming 100-node cycles (i -> i+1,
every 100th edge closes its cycle), PLUS one cross-batch merge edge
per batch linking this batch's first cycle to the previous batch's.
So every batch both inserts new components AND merges into an
existing, ever-growing one — label rewrites, not just inserts — while
component diameter stays bounded (~200), keeping the from-scratch
verification cheap.

Prints one JSON line: n_batches, total edges, per-batch latency
stats (min/median/p90/max), first-10 vs last-10 mean (drift = cost
growing with table size), equality verdict, wall time.

Usage: python scripts/stream_cc_bench.py [--batches 105] [--edges-per-batch 10000]

Cores come from $SPARK_GRAFT_CPUS (local[*] when unset); Spark's
scratch space from $SPARK_LOCAL_DIRS (the system temp dir when unset).
Exits 1, naming the failed condition on stderr, unless the labeling
equals the from-scratch one AND at least 100 batches ran (the evidence
gate); a smaller `--batches` run is a smoke test and exits 1 on the
second condition by design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=105)
    ap.add_argument("--edges-per-batch", type=int, default=10_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from mel_tnnt_spark.operators.components import connected_components, maintain_components
    from mel_tnnt_spark.operators.merge_sink import read_merged
    from mel_tnnt_spark.streaming.incremental import stream_maintain

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        )
        .appName("stream-cc-bench")
        # batch-sized work: 8 post-shuffle partitions, not 32 — per-batch
        # latency here is task-count overhead, not data volume
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="stream_cc_bench_")
    src_dir = f"{work}/edges"
    labels_path = f"{work}/labels"
    ckpt = f"{work}/ckpt"

    n_b, per_b = args.batches, args.edges_per_batch
    base = (F.col("b") * per_b + F.col("i")).cast("long")
    chain = (
        spark.range(n_b * per_b)
        .select(
            (F.col("id") % n_b).alias("b"),
            F.floor(F.col("id") / n_b).alias("i"),
        )
        .select(
            base.alias("src"),
            F.when(F.col("i") % 100 == 99, base - 99)
            .otherwise(base + 1)
            .cast("long")
            .alias("dst"),
        )
    )
    cross = spark.range(1, n_b).select(
        (F.col("id") * per_b).cast("long").alias("src"),
        ((F.col("id") - 1) * per_b).cast("long").alias("dst"),
    )
    edges = chain.unionByName(cross)
    # ~n_b files of ~per_b rows each; micro-batch = file, and the
    # hash-mixed file contents make every micro-batch touch components
    # across the whole node range — the merge-heavy case
    edges.repartition(n_b).write.mode("overwrite").parquet(src_dir)
    n_edges = edges.count()

    lat: dict[int, float] = {}
    rows_per_batch: dict[int, int] = {}

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            lat[p.batchId] = p.durationMs.get("triggerExecution", 0) / 1000.0
            rows_per_batch[p.batchId] = p.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(L())

    stream = (
        spark.readStream.schema("src bigint, dst bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    t0 = time.time()
    q = stream_maintain(
        stream,
        lambda df, txn: maintain_components(df.sparkSession, labels_path, df, txn=txn),
        ckpt,
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    wall = time.time() - t0

    got = read_merged(spark, labels_path)
    want = connected_components(edges)
    # exact equality: same (node, component-representative) rows
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    n_labels = got.count()

    ls = [lat[k] for k in sorted(lat) if rows_per_batch.get(k, 0) > 0]
    ls_sorted = sorted(ls)
    out = {
        "n_batches": len(ls),
        "n_edges": n_edges,
        "n_labeled_nodes": n_labels,
        "equal_to_scratch": diff == 0,
        "wall_sec": round(wall, 1),
        "batch_sec": {
            "min": round(min(ls), 3),
            "median": round(statistics.median(ls), 3),
            "p90": round(ls_sorted[int(0.9 * len(ls_sorted))], 3),
            "max": round(max(ls), 3),
            "first10_mean": round(statistics.mean(ls[:10]), 3),
            "last10_mean": round(statistics.mean(ls[-10:]), 3),
        },
    }
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    failed = []
    if diff:
        failed.append(f"labeling differs from scratch in {diff} rows")
    if len(ls) < 100:
        failed.append(f"{len(ls)} non-empty batches ran, the evidence gate needs >= 100")
    for why in failed:
        print(f"stream_cc_bench: FAILED: {why}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
