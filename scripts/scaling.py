"""Scaling-efficiency evidence: the identical KG job at two parallelism
levels (local[N] vs local[4N]) on the same input, per the BASELINE.json
two-cluster-size criterion (no real cluster in this sandbox).

Efficiency = (T_N / T_4N) / 4  (1.0 = perfect linear scaling).

Methodology (documented in BENCH.md):
- fresh JVM subprocess per trial, trials interleaved N,4N,N,4N,... so
  slow hypervisor drift hits both levels equally; min-of-trials is the
  estimator (standard for noisy benchmarks).
- warm-up pass per subprocess: python workers + codegen JIT are a fixed
  cold-start cost, not a scaling property of the engine.
- scratch + sink on tmpfs: a 4N-executor cluster has 4N local disks;
  a single shared sandbox disk would measure the disk, not the engine.

Usage: python scripts/scaling.py [--rows 400000] [--n 2] [--trials 3]
Prints one JSON line and a markdown table row for BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def run_once(
    cores: int,
    rows: int,
    extra: list[str] | None = None,
    cluster_mem_mb: int = 0,
) -> tuple[float, int]:
    from mel_tnnt_spark.session import get_spark
    from mel_tnnt_spark.datagen import code_files_distributed
    from mel_tnnt_spark.operators.triples import write_triples
    from mel_tnnt_spark.pipeline import run_pipeline

    # Task granularity FIXED at 32 post-shuffle partitions for both
    # levels: AQE's byte-based coalescing would otherwise hand the
    # python-heavy stage ~1 task per core (wave quantization + straggler
    # tail kills the 4N run; cluster practice is 2-4x tasks per core).
    # cluster_mem_mb > 0 switches to local-cluster[cores,1,mem]:
    # `cores` SEPARATE executor JVMs with their own block managers —
    # the round-6 verdict's instrument fix for the single-JVM
    # shuffle/block-manager share that saturated the local[N] ratio.
    master = (
        f"local-cluster[{cores},1,{cluster_mem_mb}]"
        if cluster_mem_mb
        else f"local[{cores}]"
    )
    spark = get_spark(
        f"scaling-{cores}",
        master=master,
        shuffle_partitions=32,
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-scaling",
            "spark.driver.memory": "24g",
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
            **dict(kv.split("=", 1) for kv in (extra or [])),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = code_files_distributed(spark, n_rows=rows, seed=42).cache()
    src.count()
    warm = run_pipeline(spark, src)
    warm.triples.write.format("noop").mode("overwrite").save()
    out = tempfile.mkdtemp(prefix=f"scaling_{cores}_", dir="/dev/shm")
    t0 = time.time()
    res = run_pipeline(spark, src)
    write_triples(res.triples, f"{out}/triples")
    dt = time.time() - t0
    n = spark.read.parquet(f"{out}/triples").count()
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    return dt, n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=400000)
    ap.add_argument("--n", type=int, default=2, help="small parallelism; large = 4n")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--single", type=int, default=0, help="internal: one measurement")
    ap.add_argument("--extra-conf", action="append", default=[], help="k=v spark conf (repeatable)")
    ap.add_argument(
        "--cluster-mem-mb", type=int, default=0,
        help="run each level as local-cluster[N,1,MEM]: N separate "
             "executor JVMs instead of N threads in one JVM",
    )
    args = ap.parse_args()

    if args.single:
        dt, n = run_once(args.single, args.rows, args.extra_conf, args.cluster_mem_mb)
        print(json.dumps({"dt": dt, "n": n}))
        return

    best: dict[int, float] = {}
    trials: dict[int, list[float]] = {}
    counts: dict[int, int] = {}
    levels = [args.n, args.n * 4]
    for _ in range(args.trials):
        for cores in levels:
            out = subprocess.run(
                [sys.executable, __file__, "--single", str(cores), "--rows", str(args.rows),
                 "--cluster-mem-mb", str(args.cluster_mem_mb)]
                + [f"--extra-conf={kv}" for kv in args.extra_conf],
                capture_output=True,
                text=True,
                cwd=str(REPO),
            )
            line = out.stdout.strip().splitlines()[-1]
            r = json.loads(line)
            best[cores] = min(best.get(cores, float("inf")), r["dt"])
            trials.setdefault(cores, []).append(round(r["dt"], 2))
            counts[cores] = r["n"]
    assert counts[levels[0]] == counts[levels[1]], f"triple counts diverged: {counts}"
    n1 = counts[levels[0]]
    t_small, t_large = best[levels[0]], best[levels[1]]
    eff = (t_small / t_large) / 4
    thr_small, thr_large = n1 / t_small, n1 / t_large
    print(
        json.dumps(
            {
                "rows": args.rows,
                "triples": n1,
                "n_cores": args.n,
                "trials": args.trials,
                "t_n_sec": round(t_small, 2),
                "t_4n_sec": round(t_large, 2),
                "trials_n_sec": trials[levels[0]],
                "trials_4n_sec": trials[levels[1]],
                "triples_per_sec_n": round(thr_small, 1),
                "triples_per_sec_4n": round(thr_large, 1),
                "scaling_efficiency": round(eff, 3),
            }
        )
    )
    mode = (
        f"local-cluster[N,1,{args.cluster_mem_mb}]" if args.cluster_mem_mb else "local[N]"
    )
    print(
        f"| {args.rows} | {n1} | {mode} N={args.n}: {t_small:.1f}s ({thr_small:.0f}/s) "
        f"| N={args.n * 4}: {t_large:.1f}s ({thr_large:.0f}/s) | {eff:.3f} |"
    )


if __name__ == "__main__":
    main()
