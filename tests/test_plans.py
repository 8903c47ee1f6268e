"""Physical-plan assertions: the operators must stay on the fast path —
pushdown reaches the scan, no row-at-a-time Python UDFs, dims broadcast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mel_tnnt_spark.plans.analyze import formatted_plan, plan_flags

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    p = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in p
    # column pruning: scan schema carries only the two needed columns
    assert "l_extendedprice" not in p.split("ReadSchema")[1].splitlines()[0]


def test_no_row_udfs_anywhere_in_pipeline(spark, code_files):
    from mel_tnnt_spark.pipeline import run_pipeline

    res = run_pipeline(spark, code_files)
    for df in (res.mentions, res.triples, res.summary_by_category):
        flags = plan_flags(df)
        assert flags["row_udfs"] == 0, "row-at-a-time python UDF crept in"


def test_linking_is_broadcast_no_shuffle(spark, code_files):
    from mel_tnnt_spark.operators import linking, mentions, metadata, summaries
    from mel_tnnt_spark.operators.lineage import enforce_sha_invariant

    valid, _ = enforce_sha_invariant(code_files)
    meta = metadata.mel_stage(valid)
    m = mentions.detect_mentions(meta)
    canon = summaries.canonicalize(m, summaries.label_classification_df(spark))
    aliases = linking.alias_dict_df(spark)
    linked = linking.link_mentions(canon, aliases)

    def shuffles(df):
        p = formatted_plan(df)
        return p.count("Exchange") - p.count("BroadcastExchange")

    # linking adds ZERO shuffles on the mention path: the pre-resolved
    # dim is a session-memoized checkpoint (zero exchanges of its own),
    # so every Exchange in the linked plan is already in canon
    assert shuffles(linked) == shuffles(canon)
    assert plan_flags(linked)["broadcast_joins"] >= 2  # label map + alias dim


def test_broadcast_join_in_entry_queries(spark):
    import __spark_entry__ as e

    q02 = e.queries()["q02_j1_broadcast_join_agg"](spark, SF)
    assert plan_flags(q02)["broadcast_joins"] >= 1
    q12 = e.queries()["q12_j6_containment_mentions"](spark, SF)
    assert plan_flags(q12)["row_udfs"] == 0
    # q12 now carries a repartition exchange (round-7 small-scan
    # parallelism fix), so the lazy plan is AQE-wrapped and prints no
    # codegen ids until finalized — execute THIS DataFrame's own
    # QueryExecution (collect, not a noop write, which plans a fresh
    # QueryExecution), then assert on the FINAL plan (a strictly
    # stronger check than the pre-AQE lazy one).
    q12.collect()
    assert plan_flags(q12)["whole_stage_codegen"]


def test_bucketed_source_dedup_is_shuffle_free(spark):
    """code_files_distributed hash-partitions by (repo, path) — the
    bucketed-table simulation — so latest-wins dedup and the key-only
    doc dim add ZERO exchanges over the cached source."""
    from mel_tnnt_spark.datagen import code_files_distributed
    from mel_tnnt_spark.operators import metadata

    src = code_files_distributed(spark, n_rows=500, seed=1).cache()
    src.count()
    try:
        def above_cache(df):
            # the plan tree ABOVE the InMemoryTableScan (the cached
            # relation's own build plan legitimately contains the
            # one-time bucketing exchange)
            return formatted_plan(df).split("InMemoryTableScan")[0]

        deduped = metadata.latest_commit_only(
            metadata.filter_processable(metadata.with_general_metadata(src))
        )
        assert "Exchange" not in above_cache(deduped), "max_by dedup re-shuffled"
        keys = metadata.latest_commit_keys(metadata.with_general_metadata(src))
        assert "Exchange" not in above_cache(keys)
    finally:
        src.unpersist()


def test_pair_generators_have_no_cartesian(spark):
    """The gated pair plans (q18 jaccard, q28 embedding graph, q35 LSH,
    q62 simhash, q92 SemDeDup) must never contain an all-pairs join —
    the 100-TB scale guard."""
    import __spark_entry__ as e

    for name in (
        "q18_dd_ngram_jaccard_pairs",
        "q28_cc_embedding_graph",
        "q35_dd_lsh_pairs",
        "q62_dd_simhash_pairs",
        "q92_dd_semantic_dedup",
        # graph-query family: BGP joins on shared variables and the
        # triangle wedge/close joins are equi-joins — never all-pairs
        "q102_kg_bgp_match",
        "q105_kg_triangle_count",
    ):
        df = e.queries()[name](spark, SF)
        assert plan_flags(df)["cartesian"] == 0, f"{name} plans an all-pairs join"


def test_bgp_literal_pred_prunes_union_branches(spark):
    """bgp_match's partition-prune claim, pinned at the plan level:
    a 4-pattern BGP over a 4-branch union must NOT scan every branch
    for every pattern — Catalyst folds each literal-pred filter
    against the branches' literal pred columns and prunes dead
    branches, leaving one live scan per (pattern, matching branch)
    (6 here: placedBy x orders, inNation x {customer, supplier} x 2
    legs, suppliedBy x lineitem) instead of 16."""
    import __spark_entry__ as e

    df = e.queries()["q102_kg_bgp_match"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 6, (
        f"expected 6 pruned scans, got {plan.count('Scan parquet')}"
    )


def test_plans_audit_covers_every_registered_query():
    """PLANS.md must have one row per queries() entry (VERDICT r3 #2:
    the q74 row went missing when a late-round query landed without a
    dump_plans.py rerun) — the audit can't silently drift again."""
    import re
    from pathlib import Path

    import __spark_entry__ as e

    txt = (Path(__file__).resolve().parent.parent / "PLANS.md").read_text()
    rows = set(re.findall(r"^\| (q\d+\w*) \|", txt, flags=re.M))
    missing = sorted(set(e.queries()) - rows)
    extra = sorted(rows - set(e.queries()))
    assert not missing, f"PLANS.md missing rows for {missing}: rerun scripts/dump_plans.py"
    assert not extra, f"PLANS.md has rows for unregistered queries {extra}"


def test_register_contract(monkeypatch):
    """queries() is a plain read of the register: registration order,
    no subprocess, no start-up cost; every query has an oracle and a
    well-formed name."""
    import re
    import subprocess
    import time

    import __spark_entry__ as e

    started = []

    def no_subprocess(*args, **kwargs):
        started.append(args)
        raise OSError("the query register started a subprocess")

    monkeypatch.setattr(subprocess, "run", no_subprocess)
    monkeypatch.setattr(subprocess, "Popen", no_subprocess)
    t0 = time.perf_counter()
    names = list(e.queries())
    assert time.perf_counter() - t0 < 1.0
    assert not started, f"the query register started {started}"
    assert names == list(e._Q)
    assert set(e.oracle_sql()) == set(names), "every query needs an oracle"
    assert list(e.oracle_sql()) == names
    assert all(re.fullmatch(r"q\d{2,3}_\w+", n) for n in names)


def test_register_rejects_duplicate_name():
    """A second @_q with a registered name raises instead of silently
    replacing the first query and its oracle."""
    import __spark_entry__ as e

    name = "q999_duplicate_probe"
    e._q(name, "SELECT 1")(lambda spark, sf_dir: None)
    try:
        with pytest.raises(ValueError, match=name):
            e._q(name, "SELECT 2")(lambda spark, sf_dir: None)
        assert e.oracle_sql()[name] == "SELECT 1"
    finally:
        e._Q.pop(name, None)
        e._SQL.pop(name, None)


def test_config_dims_are_local_relations(spark):
    """Config-sized dims must be JVM LocalRelations (session.local_dim).
    Round-5 find: `.coalesce(1)` on a python-parallelized dim evaluates
    every parent partition through Python workers in ONE sequential
    task on each action that rebuilds the broadcast — ~5 s/action on
    the q82 tail, the real cause of the round-4 'q82 cost anomaly'
    (the suspected md5 gram hash A/B'd as a null result until the dim
    was fixed; see BENCH.md). A LocalRelation plans zero runtime job
    and crossJoins of two constant-fold to 1x1 tasks."""
    from mel_tnnt_spark.operators.textstats import quality_classifier_scores
    from mel_tnnt_spark.session import local_dim

    d = local_dim(spark, [("a", 0.5), (None, None)], "k string, v double")
    assert "LocalRelation" in d._jdf.queryExecution().optimizedPlan().toString()
    assert [(r["k"], r["v"]) for r in d.collect()] == [("a", 0.5), (None, None)]

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = (
        quality_classifier_scores(docs, "doc_id", "text", dim=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the weight dim must not appear as a python-RDD scan anywhere
    assert "Scan ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_local_correctness_artifact_matches_register():
    """The committed CORRECTNESS_LOCAL artifact must cover EXACTLY the
    current register (VERDICT r5 #4: q84 was registered after the r5
    artifact was generated, leaving it one row short). Regenerate via
    scripts/local_correctness.py whenever registration changes."""
    import json
    import re
    from pathlib import Path

    import __spark_entry__ as e

    repo = Path(e.__file__).resolve().parent
    arts = sorted(
        repo.glob("CORRECTNESS_LOCAL_r*.json"),
        key=lambda p: int(re.search(r"_r(\d+)", p.stem).group(1)),
    )
    assert arts, "no CORRECTNESS_LOCAL artifact committed"
    rows = set(json.loads(arts[-1].read_text()))
    reg = set(e.queries())
    assert rows == reg, (
        f"stale local artifact {arts[-1].name}: "
        f"missing={sorted(reg - rows)} extra={sorted(rows - reg)} — "
        "re-run scripts/local_correctness.py"
    )
