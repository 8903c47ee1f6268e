"""Tests for IVF k-means training and per-partition lineage metrics."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ivf_train_reduces_distortion(spark):
    from mel_tnnt_spark.operators.similarity import ivf_distortion, ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    trained = ivf_train(emb, "vec_id", "embedding", n_centroids=4, iters=2)
    assert len(trained) == 4 and len(trained[0]) == len(seeds[0])
    d_seed = ivf_distortion(emb, "vec_id", "embedding", seeds)
    d_trained = ivf_distortion(emb, "vec_id", "embedding", trained)
    # Lloyd iterations never increase the objective (means minimize
    # within-cluster squared distance)
    assert d_trained <= d_seed + 1e-9
    assert d_trained < d_seed  # and strictly improve on raw-seed init
    emb.unpersist()


def test_ivf_train_deterministic(spark):
    from mel_tnnt_spark.operators.similarity import ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = ivf_train(emb, "vec_id", "embedding", n_centroids=3, iters=1)
    b = ivf_train(emb, "vec_id", "embedding", n_centroids=3, iters=1)
    assert a == b


def test_partition_metrics_totals_and_skew(spark, tmp_path):
    from mel_tnnt_spark.operators.lineage import (
        partition_metrics,
        record_partition_metrics,
    )

    df = spark.createDataFrame(
        [(f"d{i}", "x" * 10) for i in range(400)], "doc_id string, content string"
    ).repartition(8)
    pm = partition_metrics(df).collect()
    assert sum(r["rows"] for r in pm) == 400
    assert len(pm) <= 8 and all(r["rows"] > 0 for r in pm)

    # a skewed layout is visible as an outlier partition row
    skewed = df.repartition(8, F.when(F.col("doc_id") == "d0", 0).otherwise(F.crc32("doc_id")))
    # force 90% of rows onto one key -> one partition dominates
    hot = spark.createDataFrame(
        [(f"h{i}", "y") for i in range(3600)], "doc_id string, content string"
    ).withColumn("k", F.lit(0))
    cold = df.withColumn("k", F.crc32("doc_id"))
    pm2 = partition_metrics(hot.unionByName(cold).repartition(8, "k")).collect()
    assert max(r["rows"] for r in pm2) >= 3600  # the hot partition stands out

    path = str(tmp_path / "metrics")
    record_partition_metrics(df, path, stage="mentions", batch_id="b1")
    back = spark.read.parquet(path)
    assert back.agg(F.sum("rows")).first()[0] == 400
    assert {r["stage"] for r in back.select("stage").distinct().collect()} == {"mentions"}


def test_runtime_regression_tracker(tmp_path):
    """F18 — per-round runtime comparison flags slowdowns beyond the
    noise threshold, in both time (higher=worse) and throughput
    (lower=worse) rows. Exercised against the REAL driver artifact
    shape ({"tail","parsed"} with timings under parsed.queries), the
    truncated-tail shape (parsed null — the committed r04), and the
    bare bench-JSON shape bench.py emits."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from regression import load_history, load_round, regressions

    # driver shape: timings nest under parsed.queries (the real shape —
    # the r4 tracker read top-level "queries" and loaded zero rows)
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(
        {"n": 1, "rc": 0, "cpus": 32, "sf": 0.1, "tail": "...",
         "parsed": {"queries": {"q01": 1.0, "q02": 2.0},
                    "kg": {"triples_per_sec": 1000}}}))
    # truncated driver shape: parsed null, pairs recoverable from tail
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(
        {"n": 2, "rc": 0, "cpus": 32, "sf": 0.1,
         "tail": 'kens": 0.275, "q01": 1.2, "q02": 4.0}, '
                 '"kg": {"triples_per_sec": 400}}',
         "parsed": None}))
    hist = load_history(tmp_path)
    assert [t for t, _ in hist] == ["r01", "r02"]
    flagged = {q: ratio for q, _, _, _, _, ratio in regressions(hist, 1.5)}
    assert "q01" not in flagged            # 1.2x is inside noise
    assert abs(flagged["q02"] - 2.0) < 1e-9
    assert abs(flagged["_kg_triples_per_sec"] - 2.5) < 1e-9

    # complete local artifact (bare bench JSON) overrides the tail scrape
    (tmp_path / "BENCH_LOCAL_r02.json").write_text(json.dumps(
        {"queries": {"q01": 1.1, "q02": 2.1}, "kg": {"triples_per_sec": 950}}))
    hist2 = dict(load_history(tmp_path))
    assert hist2["r02"]["q02"] == 2.1
    assert not regressions(list(hist2.items()), 1.5)

    # the committed real history must load non-empty for every round
    from pathlib import Path
    real = load_history(Path("/root/repo"))
    assert len(real) >= 4
    assert all(len(q) >= 10 for _, q in real), [
        (t, len(q)) for t, q in real]
    # r04's artifact is the truncated one — its rows must come back
    r04 = dict(real).get("r04", {})
    assert "q82_ts_quality_classifier" in r04
    # and a raw committed artifact parses through load_round directly
    assert len(load_round(Path("/root/repo/BENCH_r03.json"))) >= 40


def test_asof_join_semantics_and_plan(spark):
    """As-of join: inclusive <=, latest-state-wins, NULL-before-first;
    plan has no cartesian and no row UDFs (union+window formulation)."""
    from mel_tnnt_spark.operators.asof import asof_join
    from mel_tnnt_spark.plans.analyze import plan_flags

    state = spark.createDataFrame(
        [(1, 10, "a", 100), (1, 20, "b", 101), (1, 20, "B", 102), (2, 5, "z", 103)],
        "k int, t int, v string, seq int",
    )
    probe = spark.createDataFrame(
        [(1, 9), (1, 10), (1, 15), (1, 20), (1, 99), (2, 4), (3, 7)], "k int, t int"
    )
    got = {
        (r["k"], r["t"]): r["asof_v"]
        for r in asof_join(probe, state, "k", "t", ["v"], seq_col="seq").collect()
    }
    assert got == {
        (1, 9): None,     # before first state
        (1, 10): "a",     # inclusive <=
        (1, 15): "a",
        (1, 20): "B",     # equal-ts tie -> highest seq wins
        (1, 99): "B",
        (2, 4): None,
        (3, 7): None,     # key with no state at all
    }
    df = asof_join(probe, state, "k", "t", ["v"], seq_col="seq")
    df.collect()
    flags = plan_flags(df)
    assert flags["cartesian"] == 0 and flags["row_udfs"] == 0


def test_asof_join_null_payload_row_coherent(spark):
    """A latest state row whose payload value is NULL must be returned
    as NULL (not skipped for an older non-null value), and with several
    payload columns every asof_* value must come from the SAME state
    row — native ASOF JOIN row semantics."""
    from mel_tnnt_spark.operators.asof import asof_join

    state = spark.createDataFrame(
        [(1, 10, "old", 7, 100), (1, 20, None, None, 101)],
        "k int, t int, a string, b int, seq int",
    )
    probe = spark.createDataFrame([(1, 15), (1, 25)], "k int, t int")
    got = {
        (r["k"], r["t"]): (r["asof_a"], r["asof_b"])
        for r in asof_join(probe, state, "k", "t", ["a", "b"], seq_col="seq").collect()
    }
    assert got == {
        (1, 15): ("old", 7),
        (1, 25): (None, None),  # latest row wins even with NULL payload
    }


def test_asof_join_slim_path_equivalent(spark):
    """probe_id_col path (narrow window exchange + id rejoin) returns
    the same rows as the full-carry path."""
    from mel_tnnt_spark.operators.asof import asof_join

    state = spark.createDataFrame(
        [(1, 10, "a", 100), (1, 20, "b", 101), (2, 5, "z", 103)],
        "k int, t int, v string, seq int",
    )
    probe = spark.createDataFrame(
        [(10, 1, 9, "w0"), (11, 1, 10, "w1"), (12, 1, 99, "w2"), (13, 2, 4, "w3")],
        "rid int, k int, t int, wide string",
    )
    full = asof_join(probe, state, "k", "t", ["v"], seq_col="seq")
    slim = asof_join(probe, state, "k", "t", ["v"], seq_col="seq", probe_id_col="rid")
    f = sorted([r.asDict() for r in full.collect()], key=lambda d: d["rid"])
    s = sorted([r.asDict() for r in slim.collect()], key=lambda d: d["rid"])
    assert f == s and all(d["wide"].startswith("w") for d in s)


def test_range_join_semantics_and_plan(spark):
    """Range join: inclusive bounds, overlapping intervals all match,
    no duplicate (probe, interval) pairs across buckets, plan has no
    cartesian/nested-loop."""
    import datetime as dt

    from mel_tnnt_spark.operators.asof import range_join
    from mel_tnnt_spark.plans.analyze import plan_flags

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    iv = spark.createDataFrame(
        [("A", 1, ts(0), ts(30)), ("A", 2, ts(20), ts(40)), ("B", 3, ts(0), ts(5))],
        "k string, iv_id int, s timestamp, e timestamp",
    )
    probe = spark.createDataFrame(
        [("A", 10, ts(0)), ("A", 11, ts(25)), ("A", 12, ts(30)), ("A", 13, ts(41)), ("B", 14, ts(6))],
        "k string, p_id int, t timestamp",
    )
    # bucket smaller than the interval span -> intervals explode to
    # multiple buckets; each pair must still appear exactly once
    out = range_join(probe, iv, key="k", ts="t", start="s", end="e", bucket_secs=300)
    pairs = sorted((r["p_id"], r["iv_id"]) for r in out.collect())
    assert pairs == [(10, 1), (11, 1), (11, 2), (12, 1), (12, 2)]
    out.collect()
    flags = plan_flags(out)
    assert flags["cartesian"] == 0 and flags["row_udfs"] == 0


def test_rollup_incremental_equals_scratch(spark, tmp_path):
    """Hypertable rollup: maintaining the stored rollup batch-by-batch
    (only touched buckets refreshed through the MERGE sink) ends
    byte-equal to a from-scratch rollup of the full history."""
    from mel_tnnt_spark.operators.merge_sink import read_merged
    from mel_tnnt_spark.operators.rollup import maintain_rollup, time_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()
    b1 = ev.where(F.col("event_id") % 3 == 0)
    b2 = ev.where(F.col("event_id") % 3 == 1)
    b3 = ev.where(F.col("event_id") % 3 == 2)

    path = str(tmp_path / "rollup")
    for b in (b1, b2, b3):
        maintain_rollup(spark, path, b)

    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in read_merged(spark, path).collect()
    }
    want = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in time_rollup(ev).collect()
    }
    assert got == want
    ev.unpersist()


def test_count_min_sketch_properties(spark):
    """CMS invariants: estimate >= true count always (overestimate
    only), exact when width >> keys, still >= under forced collisions
    (width=2), and sketches merge by cell-wise addition."""
    from mel_tnnt_spark.operators.sketch import cms_estimate, count_min_sketch

    rows = [(i, f"k{i % 7}") for i in range(700)] + [(700 + j, "hot") for j in range(300)]
    df = spark.createDataFrame(rows, "idx long, key string")
    true = {r["key"]: r["count"] for r in df.groupBy("key").count().collect()}

    for width in (2, 256):
        sk = count_min_sketch(df, "key", depth=4, width=width)
        est = {
            r["key"]: r["est"]
            for r in cms_estimate(sk, df.select("key"), "key", depth=4, width=width).collect()
        }
        assert set(est) == set(true)
        assert all(est[k] >= true[k] for k in true), (width, est, true)
        if width == 256:
            assert est == true  # no collisions at this width/key count
    # sketch cells are bounded by depth*width regardless of input size
    assert count_min_sketch(df, "key", depth=4, width=2).count() <= 8

    # semigroup merge: sketch(a) + sketch(b) == sketch(a union b)
    a = df.where(F.col("idx") < 400)
    b = df.where(F.col("idx") >= 400)
    sa = count_min_sketch(a, "key", depth=4, width=256)
    sb = count_min_sketch(b, "key", depth=4, width=256)
    merged = sa.unionByName(sb).groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))
    whole = count_min_sketch(df, "key", depth=4, width=256)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
