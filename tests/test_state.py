"""The crash-safe state primitive (mel_tnnt_spark/state.py) and every
maintained operator's crash/replay windows tested against it: a kill
between the staged write and the rename, inside a JSON commit, and the
staging a killed compaction leaves behind."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pytest

from mel_tnnt_spark.state import (
    entries,
    numbered,
    pin,
    publish,
    read_json,
    sweep,
    write_json,
)

PKG = Path(__file__).resolve().parent.parent / "mel_tnnt_spark"


def _kill_rename(monkeypatch, src_prefix: str) -> dict:
    """Make the next rename of a file or dir named `src_prefix...` die
    after it is written and before the rename: a publish's staging dir
    (`__staging-<entry>`) or the merge sink's pointer swap
    (`_current.tmp`). Returns a record of the kill."""
    real = os.rename
    killed = {}

    def dying(src, dst, *a, **kw):
        if os.path.basename(src).startswith(src_prefix):
            killed["staged"] = os.path.exists(src)
            raise RuntimeError("injected kill before the rename")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", dying)
    return killed


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- the primitive's contract ------------------------------------------


def test_publish_killed_before_rename_is_invisible_and_retry_commits(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "log")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    killed = _kill_rename(monkeypatch, "__staging-batch=")
    with pytest.raises(RuntimeError, match="injected kill"):
        publish(df, root, "batch=t1")
    monkeypatch.undo()
    assert killed == {"staged": True}
    assert entries(root, "batch=") == [] and os.listdir(root) == ["__staging-batch=t1"]

    path = publish(df, root, "batch=t1")
    assert entries(root, "batch=") == ["batch=t1"]
    assert _rows(spark.read.parquet(path)) == [(1, "a"), (2, "b")]
    # republishing replaces the entry instead of adding rows
    publish(df.limit(1), root, "batch=t1", partition_by="v")
    assert os.listdir(root) == ["batch=t1"]
    assert spark.read.parquet(path).count() == 1


def test_entries_numbered_and_sweep_ignore_staging(tmp_path):
    root = tmp_path / "s"
    for d in ("seg-1", "seg-10", "seg-x", "base-v2", "__staging-seg-3",
              "__staging-base-v4"):
        (root / d).mkdir(parents=True)
    assert entries(str(root), "seg-") == ["seg-1", "seg-10", "seg-x"]
    assert numbered(str(root), "seg-") == [1, 10]
    assert numbered(str(root), "base-v") == [2]
    assert entries(str(tmp_path / "missing"), "seg-") == []
    sweep(str(root))
    assert sorted(os.listdir(root)) == ["base-v2", "seg-1", "seg-10", "seg-x"]


def test_pin_returns_stored_meta_and_write_json_is_atomic(tmp_path, monkeypatch):
    p = str(tmp_path / "idx" / "_meta.json")
    assert read_json(p, {"none": True}) == {"none": True}
    assert pin(p, {"k": 5, "keys": ["a"]}) == {"k": 5, "keys": ["a"]}
    # a different definition never overwrites the stored one
    assert pin(p, {"k": 4, "keys": ["b"]}) == {"k": 5, "keys": ["a"]}

    def dying_dump(obj, f, *a, **kw):
        f.write(json.dumps(obj)[:3])
        raise RuntimeError("injected kill inside the JSON write")

    monkeypatch.setattr(json, "dump", dying_dump)
    with pytest.raises(RuntimeError, match="injected kill"):
        write_json(p, {"k": 6})
    monkeypatch.undo()
    assert read_json(p) == {"k": 5, "keys": ["a"]}


def test_only_state_module_renames_or_spells_staging():
    """The staging prefix and the commit rename live in state.py alone;
    the merge sink commits through `state.write_json` too."""
    allowed = set()
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "state.py":
            continue

        def walk(node, scope):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = node.name if scope == "<module>" else scope
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("rename", "replace")
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "os"
            ):
                found.append((rel, scope, f"os.{node.func.attr}"))
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "__staging" in node.value
            ):
                found.append((rel, scope, "__staging"))
            for child in ast.iter_child_nodes(node):
                walk(child, scope)

        walk(ast.parse(path.read_text()), "<module>")
    assert [f for f in found if f[:2] not in allowed] == []


# -- every maintained operator, killed between its write and rename ---


def _closure(compact_every, driver_rows=None):
    """The closure fold; `driver_rows=0` turns its driver tier off, so
    the fold runs through `_fixpoint` and writes the same entries."""
    def fold(spark, root, rows):
        from mel_tnnt_spark import session
        from mel_tnnt_spark.operators.graph_query import maintain_transitive_closure

        b = spark.createDataFrame(rows, "child long, parent long")
        with pytest.MonkeyPatch.context() as m:
            if driver_rows is not None:
                m.setattr(session, "DRIVER_ROWS", driver_rows)
            return _rows(maintain_transitive_closure(
                spark, root, b, "child", "parent", compact_every=compact_every))

    return fold


_CHAIN = [(i, i - 1) for i in range(1, 13)]


def _sample(spark, root, rows):
    from mel_tnnt_spark.operators.sampling import maintain_weighted_sample

    b = spark.createDataFrame(rows, "id long, w double")
    return _rows(maintain_weighted_sample(spark, root, b, "id", "w", k=5))


def _caps(spark, root, rows):
    from mel_tnnt_spark.operators.curation import maintain_domain_caps

    b = spark.createDataFrame(rows, "id long, grp string")
    return _rows(maintain_domain_caps(spark, root, b, "grp", "id", cap=3))


def _overlap_fold(spark, root, rows):
    from mel_tnnt_spark.operators.dedup import maintain_overlap_index

    b = spark.createDataFrame(rows, "id bigint, text string")
    return _rows(maintain_overlap_index(
        spark, root, b, "id", "text", min_shared=1, max_df=None))


def _merge_fold(spark, root, rows):
    from mel_tnnt_spark.operators.merge_sink import merge_upsert, read_merged

    merge_upsert(spark, root, spark.createDataFrame(rows, "id long, v string"),
                 keys=("id",), n_buckets=4)
    return _rows(read_merged(spark, root))


def _span_fold(spark, root, rows):
    from mel_tnnt_spark.operators.dedup import maintain_span_index

    b = spark.createDataFrame(rows, "id bigint, text string")
    return _rows(maintain_span_index(spark, root, b, "id", "text", k=5))


_RUN = "one two three four five six seven"
_TEXT_BATCHES = [
    [(1, _RUN + " plus unique tail alpha"),
     (2, "completely different words here nothing shared at all")],
    [(10, "prefix text then " + _RUN), (11, _RUN)],
    [(20, _RUN + " again and again " + _RUN)],
]

_MERGE_BATCHES = [[(1, "a"), (2, "b")], [(2, "B"), (3, "c")], [(1, "A"), (4, "d")]]

# case -> (fold, basename prefix of the killed rename, batches, index of
# the killed fold)
_CASES = {
    "closure_seg": (_closure(8), "__staging-seg-",
                    [_CHAIN[:4], _CHAIN[4:8], _CHAIN[8:]], 1),
    "closure_compaction": (
        _closure(2), "__staging-base-v", [_CHAIN[:4], _CHAIN[4:8], _CHAIN[8:]], 1),
    "closure_seg_fixpoint": (_closure(8, driver_rows=0), "__staging-seg-",
                             [_CHAIN[:4], _CHAIN[4:8], _CHAIN[8:]], 1),
    "closure_compaction_fixpoint": (
        _closure(2, driver_rows=0), "__staging-base-v",
        [_CHAIN[:4], _CHAIN[4:8], _CHAIN[8:]], 1),
    "weighted_sample": (_sample, "__staging-v=", [
        [(i, float(i % 7 + 1)) for i in range(0, 30)],
        [(i, float(i % 5 + 1)) for i in range(30, 60)],
        [(i, float(i % 3 + 1)) for i in range(60, 90)],
    ], 1),
    "domain_caps": (_caps, "__staging-batch=", [
        [(1, "a"), (2, "a"), (3, "b")],
        [(10, "a"), (11, "a"), (12, "b")],
        [(20, "a"), (21, "b"), (22, "c")],
    ], 1),
    "overlap_index": (_overlap_fold, "__staging-batch=", _TEXT_BATCHES, 1),
    "span_index": (_span_fold, "__staging-batch=", _TEXT_BATCHES, 1),
    # the merge sink's one pointer swap, on the first merge and on an
    # incremental one
    "merge_first": (_merge_fold, "_current", _MERGE_BATCHES, 0),
    "merge_incremental": (_merge_fold, "_current", _MERGE_BATCHES, 1),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_publish_kill_and_replay_equals_uncrashed_run(
    spark, tmp_path, monkeypatch, case
):
    """Kill one fold at its commit rename (the data is written, the
    rename is not done), replay it, fold the remaining batches: every
    returned result equals the uncrashed run's."""
    fold, prefix, batches, k = _CASES[case]
    want = [fold(spark, str(tmp_path / "clean"), b) for b in batches]
    root = str(tmp_path / "crashed")
    got = [fold(spark, root, b) for b in batches[:k]]
    killed = _kill_rename(monkeypatch, prefix)
    with pytest.raises(RuntimeError, match="injected kill"):
        fold(spark, root, batches[k])
    monkeypatch.undo()
    assert killed == {"staged": True}
    got += [fold(spark, root, b) for b in batches[k:]]
    assert got == want


def test_closure_fold_sweeps_staging_of_killed_compaction(
    spark, tmp_path, monkeypatch
):
    """A killed compaction leaves `__staging-base-v<n>` while `seg-<n>`
    is committed; its replay has an empty delta and writes nothing, and
    the next compaction is named `base-v<n+1>`. The fold's sweep is the
    only thing that deletes the orphaned O(closure) staging dir."""
    fold = _closure(2)
    root = str(tmp_path / "closure")
    fold(spark, root, _CHAIN[:4])
    _kill_rename(monkeypatch, "__staging-base-v")
    with pytest.raises(RuntimeError, match="injected kill"):
        fold(spark, root, _CHAIN[4:8])
    monkeypatch.undo()
    assert "__staging-base-v2" in os.listdir(root)
    fold(spark, root, _CHAIN[4:8])
    last = fold(spark, root, _CHAIN[8:])
    assert [d for d in os.listdir(root) if d.startswith("__staging-")] == []
    assert entries(root, "base-v") == ["base-v3"]
    want = {(n, a, n - a) for n in range(1, 13) for a in range(n)}
    assert set(last) == want


# -- the definition pins survive a kill inside their write --------------


def _meta_kill(monkeypatch, marker: str) -> dict:
    real = json.dump
    killed = {}

    def dying(obj, f, *a, **kw):
        if marker in getattr(f, "name", ""):
            killed["n"] = killed.get("n", 0) + 1
            f.write(json.dumps(obj)[:5])
            raise RuntimeError("injected kill inside the meta write")
        return real(obj, f, *a, **kw)

    monkeypatch.setattr(json, "dump", dying)
    return killed


_MANIFEST = os.sep + "snaps" + os.sep


@pytest.mark.parametrize(
    "fold, batches, killed_call, marker, kills",
    [
        (_overlap_fold, _TEXT_BATCHES[:2], 0, "_meta.json", 1),
        (_span_fold, _TEXT_BATCHES[:2], 0, "_meta.json", 1),
        (_merge_fold, _MERGE_BATCHES, 0, _MANIFEST, 1),
        (_merge_fold, _MERGE_BATCHES, 1, _MANIFEST, 1),
    ],
    ids=["overlap_index", "span_index", "merge_create", "merge_incremental"],
)
def test_definition_pin_survives_kill_inside_meta_write(
    spark, tmp_path, monkeypatch, fold, batches, killed_call, marker, kills
):
    """A kill inside the meta write, then a re-run: the call succeeds
    and every later call returns what an uncrashed run returns. The
    merge sink records its layout in each snapshot's manifest, so both
    the first and an incremental merge have a manifest write to kill."""
    want = [fold(spark, str(tmp_path / "clean"), b) for b in batches]
    root = str(tmp_path / "crashed")
    got = [fold(spark, root, b) for b in batches[:killed_call]]
    killed = _meta_kill(monkeypatch, marker)
    try:
        got.append(fold(spark, root, batches[killed_call]))
    except RuntimeError as e:
        assert "injected kill" in str(e)
        monkeypatch.undo()
        got.append(fold(spark, root, batches[killed_call]))
    monkeypatch.undo()
    assert killed.get("n", 0) == kills
    got += [fold(spark, root, b) for b in batches[killed_call + 1:]]
    assert got == want
