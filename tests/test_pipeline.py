"""End-to-end pipeline tests: golden mention/triple P/R, offset
properties, connected components, sha invariant, resume no-op."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mel_tnnt_spark.config import (
    ALIAS_DICT,
    GAZETTEER_CONLL,
    GAZETTEER_ONTO,
    LABEL_CLASSIFICATION,
    REGEX_MODEL_PATTERNS,
)
from mel_tnnt_spark.datagen import generate_code_files_rows
from mel_tnnt_spark.functions.text import py_clean_text, py_context_sentence, py_preprocess_text
from mel_tnnt_spark.pipeline import run_pipeline


# ---------------------------------------------------------------------------
# Independent golden-oracle: a deliberately simple, non-shared
# re-implementation of the extraction semantics (re + dict loops), used
# to compute expected mentions/triples for P/R (FIXTURES.md §2/§4).
# ---------------------------------------------------------------------------

import hashlib
import re


def _doc_id(repo, path, commit):
    return hashlib.sha256(f"{repo}|{path}|{commit}".encode()).hexdigest()


def golden_mentions(rows):
    """rows: raw code_files tuples. Applies: protected/empty filter,
    latest-commit-wins, clean+preprocess, then all three detectors."""
    by_key = {}
    for repo, path, commit, lang, content, sha, ts in rows:
        fname = path.rsplit("/", 1)[-1]
        if not content or fname.startswith("~$"):
            continue
        k = (repo, path)
        cur = by_key.get(k)
        key = (ts, commit, _doc_id(repo, path, commit))
        if cur is None or key > cur[0]:
            by_key[k] = (key, (repo, path, commit, content))
    by_key = {k: v for k, (_, v) in by_key.items()}
    out = []
    for repo, path, commit, content in by_key.values():
        did = _doc_id(repo, path, commit)
        text = py_preprocess_text(py_clean_text(content))
        # regex model
        for cat, pat in REGEX_MODEL_PATTERNS.items():
            for m in re.finditer(pat, text):
                out.append((did, "regex_model", cat, m.group(0), m.start(), m.end()))
        # gazetteers with running-offset semantics
        for model, gaz in (
            ("gazetteer_conll_model", GAZETTEER_CONLL),
            ("gazetteer_onto_model", GAZETTEER_ONTO),
        ):
            for surface, cat in gaz.items():
                off = 0
                while True:
                    off = text.find(surface, off)
                    if off < 0:
                        break
                    out.append((did, model, cat, surface, off, off + len(surface)))
                    off += len(surface)
    return set(out)


def golden_triples(rows):
    """Expected final triples from golden mentions + alias dict + CC."""
    label_of = {}
    for tnnt, by_model in LABEL_CLASSIFICATION.items():
        for model, raw in by_model.items():
            label_of[(model, raw)] = tnnt
    cands = {}
    for d in ALIAS_DICT:
        cands.setdefault(d["alias"], []).append(d)

    mentions = golden_mentions(rows)
    linked = []
    for did, model, cat, entity, s, e in mentions:
        if entity not in cands:
            continue
        tnnt = label_of.get((model, cat))
        best = max(
            cands[entity],
            key=lambda d: (
                round(d["prior"] + (0.5 if d["tnnt_label"] == tnnt else 0.0), 6),
                d["entity_id"],
                d["canonical"],
                d["tnnt_label"],
            ),
        )
        linked.append((did, best["entity_id"], best["canonical"], best["tnnt_label"]))

    # connected components over shared normalized canonical
    def norm(c):
        return re.sub("[^a-z0-9]", "", c.lower())

    ids = sorted({(eid, norm(c)) for _, eid, c, _ in linked})
    comp = {eid: eid for eid, _ in ids}
    by_norm = {}
    for eid, nk in ids:
        by_norm.setdefault(nk, []).append(eid)
    for nk, group in by_norm.items():
        root = min(group)
        for eid in group:
            comp[eid] = root

    # doc -> repo map for partOf triples
    docs = set()
    by_key = {}
    for repo, path, commit, lang, content, sha, ts in rows:
        fname = path.rsplit("/", 1)[-1]
        if not content or fname.startswith("~$"):
            continue
        k = (repo, path)
        cur = by_key.get(k)
        key = (ts, commit, _doc_id(repo, path, commit))
        if cur is None or key > cur[0]:
            by_key[k] = (key, (repo, commit))
    for (repo, path), (_, (r, commit)) in by_key.items():
        docs.add((_doc_id(repo, path, commit), r))

    triples = set()
    for did, eid, canonical, tnnt in linked:
        cid = comp[eid]
        triples.add((did, "tnnt:mentions", cid))
        triples.add((cid, "rdf:type", tnnt))
        triples.add((cid, "tnnt:label", canonical))
    for did, repo in docs:
        triples.add((did, "tnnt:partOf", repo))
    return triples


@pytest.fixture(scope="module")
def result(spark, code_files):
    return run_pipeline(spark, code_files)


def test_mentions_match_golden(result, code_files):
    rows = generate_code_files_rows(120, 42)
    golden = golden_mentions(rows)
    got = {
        (r["doc_id"], r["model"], r["category"], r["entity"], r["start_index"], r["end_index"])
        for r in result.mentions.collect()
    }
    assert got == golden  # P = R = 1.0


def test_mention_offset_properties(result):
    rows = result.mentions.join(
        result.metadata.select("doc_id", "preproc_text"), "doc_id"
    ).collect()
    assert rows
    for r in rows:
        t = r["preproc_text"]
        assert 0 <= r["start_index"] < r["end_index"] <= len(t)
        assert t[r["start_index"] : r["end_index"]] == r["entity"]
        assert r["sentence"] == py_context_sentence(r["start_index"], t)


def test_triples_match_golden(result, code_files):
    rows = generate_code_files_rows(120, 42)
    golden = golden_triples(rows)
    got = {(r["subj"], r["pred"], r["obj"]) for r in result.triples.collect()}
    tp = len(got & golden)
    precision = tp / len(got)
    recall = tp / len(golden)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert got == golden  # stronger than the P/R gate on this fixture


def test_ambiguous_alias_resolution(result):
    # "Margaret Hamilton" must link to the software pioneer (prior 0.90 +
    # label match) not the actress (0.40)
    picks = (
        result.linked.where(F.col("entity") == "Margaret Hamilton")
        .select("entity_id")
        .distinct()
        .collect()
    )
    assert [r["entity_id"] for r in picks] == ["ent:margaret_hamilton"]


def test_sha_invariant_quarantine(spark, code_files, result):
    bad = code_files.limit(3).withColumn("content_sha", F.lit("deadbeef"))
    res = run_pipeline(spark, code_files.unionByName(bad))
    assert res.quarantined.count() == 3
    # quarantined rows never reach the metadata stage: same doc set as
    # the clean run
    assert res.metadata.count() == result.metadata.count()
    assert res.metadata.where(F.col("content_sha") == "deadbeef").count() == 0


def test_resume_is_noop(spark, code_files):
    tmp = tempfile.mkdtemp(prefix="lineage_")
    try:
        path = f"{tmp}/lineage"
        r1 = run_pipeline(spark, code_files, lineage_path=path)
        n1 = r1.metadata.count()
        assert n1 > 0
        from mel_tnnt_spark.operators.lineage import record_done

        record_done(r1.metadata, path, "kg", "batch1")
        r2 = run_pipeline(spark, code_files, lineage_path=path)
        assert r2.metadata.count() == 0  # second run over same snapshot: no-op
        assert r2.mentions.count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_triples_batch_idempotent(spark, result):
    """S6 sink semantics: (a) replaying a failed batch rewrites its own
    partition — no duplicates; (b) a later batch never clobbers earlier
    batches' output (the resume-overwrite data-loss bug)."""
    from mel_tnnt_spark.operators.triples import write_triples

    tmp = tempfile.mkdtemp(prefix="triples_sink_")
    try:
        path = f"{tmp}/triples"
        t = result.triples.cache()
        n = t.count()

        write_triples(t, path, batch_id="b1")
        assert spark.read.parquet(path).count() == n

        # crash-mid-write replay: same batch_id again -> same rows, not 2n
        write_triples(t, path, batch_id="b1")
        got = spark.read.parquet(path)
        assert got.count() == n
        assert {r["batch_id"] for r in got.select("batch_id").distinct().collect()} == {"b1"}

        # next batch appends its own partition; b1 rows survive
        write_triples(t.limit(5), path, batch_id="b2")
        got = spark.read.parquet(path)
        assert got.where(F.col("batch_id") == "b1").count() == n
        assert got.where(F.col("batch_id") == "b2").count() == 5
        t.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_write_triples_full_then_incremental_layout(spark, result):
    """The fresh-run (full=True) and resume (incremental) modes share
    ONE batch_id=/pred= layout — the whole table stays readable after
    mixing them (mixed pred=-only + batch_id= layouts break partition
    discovery)."""
    from mel_tnnt_spark.operators.triples import write_triples

    tmp = tempfile.mkdtemp(prefix="triples_layout_")
    try:
        path = f"{tmp}/triples"
        t = result.triples.cache()
        n = t.count()
        write_triples(t, path, batch_id="b0", full=True)
        write_triples(t.limit(7), path, batch_id="b1")
        got = spark.read.parquet(path)
        assert got.count() == n + 7
        assert got.where(F.col("batch_id") == "b0").count() == n
        # a later FULL run resets the whole table (static overwrite)
        write_triples(t.limit(3), path, batch_id="b0", full=True)
        assert spark.read.parquet(path).count() == 3
        t.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_linking_plans_equivalent(spark, result):
    """The zero-shuffle broadcast-dim linking must produce exactly the
    rows of the direct candidates->groupBy formulation."""
    from mel_tnnt_spark.operators.linking import alias_dict_df, link_mentions_via_groupby

    via_groupby = link_mentions_via_groupby(result.canon, alias_dict_df(spark))
    a = {tuple(r) for r in result.linked.collect()}
    b = {tuple(r) for r in via_groupby.select(*result.linked.columns).collect()}
    assert a == b and a


def test_canonical_entities_local_vs_distributed(spark, result):
    from mel_tnnt_spark.operators.components import canonical_entities, canonical_entities_local

    dim = result.linked.select("entity_id", "canonical").distinct()
    local = set(canonical_entities_local([(r["entity_id"], r["canonical"]) for r in dim.collect()]))
    dist = {
        (r["entity_id"], r["canonical_id"])
        for r in canonical_entities(result.linked).collect()
    }
    assert local == dist and local


def test_driver_entity_triples_equal_distributed_path(spark, result):
    """The driver-built rdf:type/tnnt:label rows plus the one-shuffle
    mention branch give the same triples, each once, as build_triples'
    distributed path (distributed CC, dim distincts on the cluster)."""
    from mel_tnnt_spark.operators.components import canonical_entities
    from mel_tnnt_spark.operators.triples import build_triples

    docs = result.metadata.select("doc_id", "repo")
    dist = build_triples(docs, result.linked, canonical_entities(result.linked))
    got = sorted(map(tuple, result.triples.collect()))
    assert len(got) == len(set(got))
    assert got == sorted(map(tuple, dist.collect()))


def test_latest_wins_uses_committed_at_not_hash_order(spark):
    """Regression: commit is a sha1 hex with no recency order. A stale
    commit whose hash sorts AFTER the newest commit must still lose."""
    from mel_tnnt_spark.operators.metadata import latest_commit_only, with_general_metadata

    rows = [
        # stale commit 'ffff...' sorts lexicographically above '0000...'
        ("r", "src/a.py", "f" * 40, "python", "old content", "sha_old", 100),
        ("r", "src/a.py", "0" * 40, "python", "new content", "sha_new", 200),
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, content_sha string, committed_at long",
    )
    out = latest_commit_only(with_general_metadata(df)).collect()
    assert len(out) == 1
    assert out[0]["content"] == "new content"
    assert out[0]["committed_at"] == 200


def test_connected_components_basic(spark):
    from mel_tnnt_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "src string, dst string"
    )
    expect = {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f")}
    # driver union-find fast path
    got = {(r["node"], r["component"]) for r in connected_components(edges).collect()}
    assert got == expect
    # distributed iterative path must agree exactly
    got_dist = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got_dist == expect


def test_incremental_components_equals_from_scratch(spark):
    """Folding edge batches into an existing labeling must equal the
    from-scratch CC over all edges seen so far — across chained
    batches, component merges, brand-new nodes, intra-component edges,
    and isolated self-loops."""
    import random

    from mel_tnnt_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    rng = random.Random(7)
    batches = []
    for _ in range(3):
        batch = [(rng.randint(0, 80), rng.randint(0, 80)) for _ in range(25)]
        batch.append((rng.randint(100, 110), rng.randint(0, 80)))  # new node
        batch.append((120, 120))  # isolated self-loop
        batches.append(batch)

    def df(edges):
        return spark.createDataFrame(edges, "src bigint, dst bigint")

    labels = connected_components(df(batches[0]))
    seen = list(batches[0])
    for batch in batches[1:]:
        labels = incremental_components(labels, df(batch))
        seen += batch
        want = sorted(map(tuple, connected_components(df(seen)).collect()))
        got = sorted(map(tuple, labels.collect()))
        assert got == want


def test_incremental_components_never_shuffles_labels(spark):
    """With auto-broadcast disabled, every join in the incremental
    plan must still be an explicit BroadcastHashJoin — a SortMergeJoin
    would mean the label table is shuffled per batch (the round-3
    self-review found the broadcast hint on the wrong side)."""
    from mel_tnnt_spark.operators.components import incremental_components

    labels = spark.createDataFrame(
        [(i, i - i % 3) for i in range(300)], "node bigint, component bigint"
    )
    edges = spark.createDataFrame([(1, 5), (7, 400)], "src bigint, dst bigint")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = incremental_components(labels, edges)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan
        got = dict((r["node"], r["component"]) for r in out.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # spot-check semantics survived the plan change: edge (1,5) merges
    # components 0 and 3 -> 0; edge (7,400) attaches new node 400 to 6
    assert got[400] == 6 and got[5] == 0 and got[4] == 0


def test_distributed_cc_converges_on_deep_graph(spark):
    """Pointer jumping (label <- label(label)) must turn O(diameter)
    min-label propagation into O(log diameter): a 4000-node path has
    diameter 4000 and would need 4000 plain rounds — far beyond
    max_iter — but converges in ~log2 rounds with jumping."""
    from mel_tnnt_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(3999)], "src bigint, dst bigint"
    )
    out = connected_components(edges, driver_threshold=0, max_iter=20)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert out.count() == 4000


# ---------------------------------------------------------------------------
# One derivation per document: the pinned per-doc table feeds the partOf
# triples and record_done; the write is sized by AQE.
# ---------------------------------------------------------------------------


def _plan_leaves_and_nodes(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves().iterator()
    names = []
    while leaves.hasNext():
        names.append(leaves.next().nodeName())
    return names, plan.toString()


@pytest.mark.parametrize("resume", [False, True], ids=["fresh", "resume"])
def test_record_done_input_reads_only_the_pinned_doc_table(spark, code_files, result, resume):
    """record_done's `select(doc_id, content_sha).distinct()` over
    `res.metadata` must plan as a read of the pinned per-doc table: the
    left join to the text columns is removed and the source is never
    scanned again (no sha256, no dedup, no resume anti-join)."""
    from mel_tnnt_spark.operators.lineage import record_done

    tmp = tempfile.mkdtemp(prefix="lineage_plan_")
    try:
        lineage_path = None
        if resume:
            lineage_path = f"{tmp}/lineage"
            record_done(result.metadata.limit(5), lineage_path, "kg", "b0")
        res = run_pipeline(spark, code_files, lineage_path=lineage_path)
        leaves, plan = _plan_leaves_and_nodes(
            res.metadata.select("doc_id", "content_sha").distinct()
        )
        assert "Join" not in plan, plan
        assert leaves and set(leaves) == {"LogicalRDD"}, (leaves, plan)
        if resume:
            assert res.metadata.count() == result.metadata.count() - 5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Jobs of run_pipeline + write_triples(full=True) + record_done on the
# 120-row fixture with no lineage recorded yet (measured: 13 on Spark
# 4.1.2, local[4]; 21 before the per-doc table was pinned, the write
# sized by AQE and the empty lineage made foldable).
KG_JOB_BUDGET = 13


def test_kg_call_sequence_job_budget(spark, code_files, result):
    """main.py's fresh-build sequence runs no more Spark jobs than the
    budget; the jobs are counted through a job group."""
    from mel_tnnt_spark.operators.lineage import record_done
    from mel_tnnt_spark.operators.triples import write_triples

    code_files.count()  # the cached fixture is materialized outside the group
    sc = spark.sparkContext
    tmp = tempfile.mkdtemp(prefix="kg_jobs_")
    group = "test-kg-job-budget"
    try:
        sc.setJobGroup(group, group)
        try:
            res = run_pipeline(spark, code_files, lineage_path=f"{tmp}/lineage")
            write_triples(res.triples, f"{tmp}/triples", batch_id="b0", full=True)
            record_done(res.metadata, f"{tmp}/lineage", "kg", "b0")
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < jobs <= KG_JOB_BUDGET, jobs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_full_write_is_sized_by_the_data(spark, result):
    """At fixture size a full write leaves at most one data file per
    `pred=` partition (a fixed bucket count left up to 32)."""
    import os

    from mel_tnnt_spark.operators.triples import write_triples

    tmp = tempfile.mkdtemp(prefix="triples_files_")
    try:
        write_triples(result.triples, f"{tmp}/t", batch_id="b0", full=True)
        batch = f"{tmp}/t/batch_id=b0"
        preds = sorted(os.listdir(batch))
        assert len(preds) == 4, preds
        for p in preds:
            data = [f for f in os.listdir(f"{batch}/{p}") if not f.startswith((".", "_"))]
            assert len(data) == 1, (p, data)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_duplicated_source_row_changes_nothing(spark, code_files, result):
    """A source row duplicated verbatim gives the same mentions, triples
    and lineage rows as the source without the duplicate (the
    latest-commit dedup collapses it before the mention stage)."""
    from mel_tnnt_spark.operators.lineage import record_done
    from mel_tnnt_spark.operators.metadata import with_general_metadata

    hit = result.mentions.select("doc_id").distinct().limit(1)
    dup = (
        with_general_metadata(code_files)
        .join(hit, "doc_id", "left_semi")
        .select(*code_files.columns)
    )
    assert dup.count() == 1
    tmp = tempfile.mkdtemp(prefix="dup_row_")
    try:
        runs = {}
        for name, src in (("clean", code_files), ("dup", code_files.unionByName(dup))):
            res = run_pipeline(spark, src)
            record_done(res.metadata, f"{tmp}/{name}", "kg", "b0")
            runs[name] = (res.mentions, res.triples, spark.read.parquet(f"{tmp}/{name}"))
        for clean, dup_df in zip(runs["clean"], runs["dup"]):
            assert clean.count() == dup_df.count() > 0
            assert clean.exceptAll(dup_df).count() == 0
            assert dup_df.exceptAll(clean).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
