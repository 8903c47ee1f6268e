"""Self-check of the benchmark at a tiny input size.

    python3 kgbench/selfcheck.py

Run from the repository root; exits non-zero on the first failed
assertion. It checks that
1. the metric names and units the benchmark reports match BENCHMARK.json;
2. a planted wrong triple, a dropped triple and a wrong closure row each
   fail the oracle, and unplanted runs pass it with P = R = 1;
3. the free run counters `pipeline.jobs` and `pipeline.shuffle_write_mb`
   repeat exactly across two runs of each KG build workload (reported at
   the end, after every other check has run: see README.md, they do not
   always repeat);
4. the seed argument changes the generated inputs, and only the seed does.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgbench import run as bench  # noqa: E402

TINY = {"kg_build": 300, "kg_resume": 300, "kg_query": 300}
SEED = 7


def check_names() -> list[str]:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == bench.END_TO_END, (e2e, bench.END_TO_END)
    assert layers == bench.per_layer_units(), set(layers) ^ set(bench.per_layer_units())
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) <= set(bench.SIZES), names
    print("names and units match BENCHMARK.json")
    return names


def check_seed() -> None:
    from kgbench import gen

    assert gen.code_files(1, 200) == gen.code_files(1, 200)
    assert gen.code_files(1, 200) != gen.code_files(2, 200)
    assert gen.query_graph(1, 200) == gen.query_graph(1, 200)
    assert gen.query_graph(1, 200) != gen.query_graph(2, 200)
    print("the seed, and only the seed, changes the inputs")


def _rewrite_partition(part_dir: str, edit) -> None:
    """Replace one committed partition's files by `edit(rows)`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
    table = pa.concat_tables([pq.read_table(f) for f in files])
    rows = edit(table.to_pylist())
    for f in files:
        os.remove(f)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), os.path.join(part_dir, "part-planted.parquet"))


def _fresh_run(tr, wl):
    wl.reset()
    tr.settle()
    tr.reset()
    return bench.timed_round(tr, wl)


def check_workload(spark, tr, wl) -> list[str]:
    """Returns the free counters that did not repeat."""
    rows = [_fresh_run(tr, wl) for _ in range(3)]  # the first is the cold warm-up
    for r in rows:
        assert r["_ok"] and r["precision"] == r["recall"] == 1.0, r
    unrepeated = []
    if wl.name != "kg_query":
        for k in ("pipeline.jobs", "pipeline.shuffle_write_mb"):
            if rows[1][k] != rows[2][k]:
                unrepeated.append(f"{wl.name} {k}: {rows[1][k]} then {rows[2][k]}")
    wl.reset()
    tr.settle()
    tr.reset()
    traced = bench.traced_round(spark, tr, wl)
    assert traced.pop("_ok")
    assert set(traced) == set(bench.per_layer_units()), set(traced) ^ set(bench.per_layer_units())
    assert traced["harness.coverage"] >= 0.9, traced["harness.coverage"]
    print(f"{wl.name}: oracle passes, trace covers {traced['harness.coverage']:.3f}")
    return unrepeated


def check_planted_build(tr, wl) -> None:
    """A wrong and a dropped triple in the committed table fail the oracle."""
    part = os.path.join(wl.out, "batch_id=batch-0", "pred=tnnt%3ApartOf")

    def wrong(rows):
        rows[0] = {**rows[0], "obj": rows[0]["obj"] + "-planted"}
        return rows

    for plant, broken in ((wrong, "precision"), (lambda rows: rows[1:], "recall")):
        wl.reset()
        wl.run()
        _rewrite_partition(part, plant)
        check, _ = wl.verify()
        assert not check.ok and getattr(check, broken) < 1.0, (plant, check.notes)
        print(f"{wl.name}: planted fault caught: {check.notes[0]}")


def check_planted_closure(tr, wl) -> None:
    """A wrong closure row fails the oracle."""
    from pyspark.sql import functions as F

    from kgbench import oracle

    wl.reset()
    wl.run()
    tc, cols, _ = wl.got["closure"]
    node, anc = tc.select("node", "ancestor").first()
    bad = tc.withColumn(
        "depth", F.when((F.col("node") == node) & (F.col("ancestor") == anc), F.col("depth") + 1).otherwise(F.col("depth"))
    )
    wl.got["closure"] = (bad, cols, oracle.spark_fingerprint(bad, cols))
    check, _ = wl.verify()
    assert not check.ok and check.precision < 1.0 and check.recall < 1.0, check.notes
    print(f"{wl.name}: planted fault caught: {check.notes[0]}")


def main() -> int:
    names = check_names()
    check_seed()
    work = os.path.join(bench.ROOT, ".kgbench_work", "selfcheck")
    bench._env(work)
    from kgbench.trace import Tracer
    from kgbench.workloads import WORKLOADS

    spark = bench.start_spark(work)
    unrepeated = []
    try:
        tr = Tracer(spark)
        for name in dict.fromkeys(names + sorted(WORKLOADS)):
            wl = WORKLOADS[name](spark, tr, os.path.join(work, name), SEED, TINY[name])
            wl.prepare()
            wl.oracle()
            unrepeated += check_workload(spark, tr, wl)
            if name == "kg_build":
                check_planted_build(tr, wl)
            if name == "kg_query":
                check_planted_closure(tr, wl)
    finally:
        bench.stop_spark(spark)
    if unrepeated:
        print("selfcheck FAILED: free counters did not repeat:", *unrepeated, sep="\n  ")
        return 1
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
