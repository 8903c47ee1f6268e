"""Extra benchmark harness for optimization work (guide §1): time an
arbitrary subset of declared queries with the same methodology as the
frozen bench.py (noop sink, warm pass then timed pass), optionally
repeat, and optionally dump .explain("formatted") plans.

bench.py itself is FROZEN for driver measurement; this file exists so
optimization rounds can isolate single queries and capture plan
evidence without touching it.

Usage:
  python bench_extra.py --queries q92_dd_semantic_dedup,q104_kg_pagerank \
      --sf-dir /root/testdata/sf1.0 --repeats 2 --plans-dir plans/r07 \
      --plan-suffix before
  python bench_extra.py --kg --sf-dir /root/testdata/sf1.0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--plan-suffix", default="before")
    ap.add_argument("--kg", action="store_true", help="time the kg_pipeline instead")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from mel_tnnt_spark.session import get_spark

    spark = get_spark("mel-tnnt-bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, object] = {"sf_dir": args.sf_dir, "cpus": cpus}

    if args.kg:
        from mel_tnnt_spark.datagen import code_files_distributed
        from mel_tnnt_spark.pipeline import run_pipeline
        from mel_tnnt_spark.operators.triples import write_triples
        import shutil
        import tempfile

        sf = float(args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in args.sf_dir else 0.1
        n_rows = max(1000, int(1_000_000 * sf))
        src = code_files_distributed(spark, n_rows=n_rows, seed=42).cache()
        src.count()
        spark.sparkContext.setJobDescription("kg_pipeline warm")
        run_pipeline(spark, src).triples.write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(args.repeats):
            tmp = tempfile.mkdtemp(prefix="bench_extra_triples_")
            spark.sparkContext.setJobDescription("kg_pipeline timed")
            t0 = time.time()
            res = run_pipeline(spark, src)
            write_triples(res.triples, f"{tmp}/triples")
            times.append(round(time.time() - t0, 3))
            shutil.rmtree(tmp, ignore_errors=True)
        out["kg_pipeline"] = times
        spark.stop()
        print(json.dumps(out))
        return

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = [n for n in args.queries.split(",") if n]
    timings: dict[str, list[float]] = {}
    for name in names:
        if name not in qs:
            raise SystemExit(f"unknown query {name}")
        if args.plans_dir:
            pdir = Path(args.plans_dir)
            pdir.mkdir(parents=True, exist_ok=True)
            df = qs[name](spark, args.sf_dir)
            (pdir / f"{name}_{args.plan_suffix}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        if not args.no_warm:
            spark.sparkContext.setJobDescription(f"{name} warm")
            qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} timed {i}")
            t0 = time.time()
            qs[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        timings[name] = runs
    out["queries"] = timings
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
