"""The merge sink's snapshot design (operators/merge_sink.py): time
travel, the atomic pointer commit, schema evolution, expiry, bounded
storage for the callers that keep no history, and the refusal to read
a foreign layout as an empty table."""

from __future__ import annotations

import os
import re

import pytest

from mel_tnnt_spark.operators.merge_sink import (
    current_snapshot,
    expire_snapshots,
    merge_upsert,
    read_merged,
    snapshots,
)
from tests.conftest import SF_DIR


def _rows(spark, df):
    return {tuple(r) for r in df.collect()}


def _state(spark, table, as_of=None):
    return _rows(spark, read_merged(spark, table, as_of=as_of))


def test_time_travel_reproduces_every_historical_state(spark, tmp_path):
    t = str(tmp_path / "snap")
    s0 = merge_upsert(
        spark,
        t,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        keys=("id",),
        n_buckets=4,
    )
    s1 = merge_upsert(
        spark,
        t,
        spark.createDataFrame(
            [(2, "B", "upsert"), (3, "c", "upsert")], "id long, v string, op string"
        ),
        keys=("id",),
    )
    s2 = merge_upsert(
        spark,
        t,
        spark.createDataFrame([(1, None, "delete")], "id long, v string, op string"),
        keys=("id",),
    )
    assert (s0, s1, s2) == (0, 1, 2)
    assert current_snapshot(t) == 2
    assert _state(spark, t, as_of=0) == {(1, "a"), (2, "b")}
    assert _state(spark, t, as_of=1) == {(1, "a"), (2, "B"), (3, "c")}
    assert _state(spark, t) == {(2, "B"), (3, "c")}
    assert [m["parent_id"] for m in snapshots(t)] == [None, 0, 1]


def test_schema_evolution_add_column_and_old_snapshot_schema(spark, tmp_path):
    t = str(tmp_path / "snap")
    merge_upsert(
        spark, t,
        spark.createDataFrame([(1, "a")], "id long, v string"),
        keys=("id",), n_buckets=4,
    )
    # merge 1 ADDS a column; the old row reads NULL for it
    merge_upsert(
        spark, t,
        spark.createDataFrame([(2, "b", 0.9)], "id long, v string, score double"),
        keys=("id",),
    )
    cur = read_merged(spark, t)
    assert cur.columns == ["id", "v", "score"]
    assert _rows(spark, cur) == {(1, "a", None), (2, "b", 0.9)}
    # time travel returns the OLD schema — the added column must not leak
    old = read_merged(spark, t, as_of=0)
    assert old.columns == ["id", "v"]
    assert _rows(spark, old) == {(1, "a")}
    # a later merge missing the added column NULL-fills, never drops
    merge_upsert(
        spark, t,
        spark.createDataFrame([(3, "c")], "id long, v string"),
        keys=("id",),
    )
    assert _rows(spark, read_merged(spark, t)) == {
        (1, "a", None), (2, "b", 0.9), (3, "c", None),
    }


def test_commit_is_pointer_swap_crash_before_is_invisible(spark, tmp_path, monkeypatch):
    """Kill the merge after data+manifest are written but BEFORE the
    pointer swap: readers still see the old snapshot; the replayed
    merge commits the identical state."""
    t = str(tmp_path / "snap")
    merge_upsert(
        spark, t,
        spark.createDataFrame([(1, "a")], "id long, v string"),
        keys=("id",), n_buckets=4,
    )

    real_rename = os.rename

    def dying_rename(src, dst, *a, **kw):
        if dst.endswith("_current"):
            raise RuntimeError("injected kill before pointer swap")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", dying_rename)
    ch = spark.createDataFrame([(2, "b")], "id long, v string")
    with pytest.raises(RuntimeError, match="injected kill"):
        merge_upsert(spark, t, ch, keys=("id",))
    monkeypatch.setattr(os, "rename", real_rename)

    # crash window: orphan data + manifest exist, pointer untouched
    assert current_snapshot(t) == 0
    assert _state(spark, t) == {(1, "a")}
    # replay commits; state is exactly the once-applied result
    sid = merge_upsert(spark, t, ch, keys=("id",))
    assert sid == 1 and current_snapshot(t) == 1
    assert _state(spark, t) == {(1, "a"), (2, "b")}


def test_expire_snapshots_drops_history_keeps_current(spark, tmp_path):
    t = str(tmp_path / "snap")
    for i in range(4):
        merge_upsert(
            spark, t,
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            keys=("id",), n_buckets=4,
        )
    expired = expire_snapshots(t, keep_last=2)
    assert expired == [0, 1]
    assert [m["snapshot_id"] for m in snapshots(t)] == [2, 3]
    with pytest.raises(ValueError, match="expired"):
        read_merged(spark, t, as_of=0)
    # retained snapshots still read exactly, orphan data dirs swept
    assert _state(spark, t, as_of=2) == {(0, "v0"), (1, "v1"), (2, "v2")}
    assert _state(spark, t) == {(0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")}
    referenced = set()
    for m in snapshots(t):
        referenced.update(m["buckets"].values())
    on_disk = set(os.listdir(os.path.join(t, "data")))
    assert on_disk == referenced


def test_delete_empties_bucket_and_duplicate_keys_raise(spark, tmp_path):
    t = str(tmp_path / "snap")
    merge_upsert(
        spark, t,
        spark.createDataFrame([(1, "a")], "id long, v string"),
        keys=("id",), n_buckets=2,
    )
    merge_upsert(
        spark, t,
        spark.createDataFrame([(1, None, "delete")], "id long, v string, op string"),
        keys=("id",),
    )
    assert _state(spark, t) == set()
    assert _state(spark, t, as_of=0) == {(1, "a")}
    with pytest.raises(ValueError, match="multiple change rows"):
        merge_upsert(
            spark, t,
            spark.createDataFrame([(5, "x"), (5, "y")], "id long, v string"),
            keys=("id",),
        )


def _rollup_rows(df):
    return {
        (r["bucket_start"], r["event_type"], r["n_events"], round(r["total_value"], 6))
        for r in df.collect()
    }


def _bucket_dirs_on_disk(t):
    data = os.path.join(t, "data")
    return {
        (v, b) for v in os.listdir(data)
        for b in os.listdir(os.path.join(data, v)) if b.startswith("kb=")
    }


def test_maintain_rollup_keeps_one_version_per_bucket(spark, tmp_path):
    """The callers that keep no history expire right after their merge:
    after each of 4 maintain_rollup calls the table holds one manifest
    and exactly the bucket versions it references, and the rows equal a
    from-scratch rollup of the history so far."""
    from pyspark.sql import functions as F

    from mel_tnnt_spark.operators.rollup import maintain_rollup, time_rollup

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t = str(tmp_path / "rollup")
    for i in range(4):
        maintain_rollup(spark, t, ev.where(F.col("event_id") % 4 == i))
        man = snapshots(t)
        assert [m["snapshot_id"] for m in man] == [i]
        assert os.listdir(os.path.join(t, "snaps")) == [f"s{i}.json"]
        assert _bucket_dirs_on_disk(t) == {
            (v, f"kb={b}") for b, v in man[0]["buckets"].items()
        }
        assert set(os.listdir(os.path.join(t, "data"))) == set(man[0]["buckets"].values())
        want = time_rollup(ev.where(F.col("event_id") % 4 <= i))
        assert _rollup_rows(read_merged(spark, t)) == _rollup_rows(want)


def _pre_change_buckets(spark, t):
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(
        os.path.join(t, "kb=0"))
    with open(os.path.join(t, "_merge_meta.json"), "w") as f:
        f.write('{"n_buckets": 4, "keys": ["k"], "bucket_keys": ["k"]}')


def _flat_part_files(spark, t):
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(t)


@pytest.mark.parametrize("layout", [_pre_change_buckets, _flat_part_files],
                         ids=["pre_change_buckets", "flat_part_files"])
def test_foreign_layout_raises_instead_of_reading_as_empty(spark, tmp_path, layout):
    """A root holding anything the sink did not write is refused on
    merge and read, naming the path, and its files are left alone;
    merging it as an empty table would silently lose its rows."""
    from mel_tnnt_spark.operators.merge_sink import read_merged_pruned

    t = str(tmp_path / "old")
    layout(spark, t)
    before = sorted(os.listdir(t))
    ch = spark.createDataFrame([(2, "b")], "k int, v string")
    with pytest.raises(ValueError, match=re.escape(f"{t} is not a merge-sink table")):
        merge_upsert(spark, t, ch, keys=("k",))
    with pytest.raises(ValueError, match=re.escape(f"{t} is not a merge-sink table")):
        read_merged(spark, t)
    with pytest.raises(ValueError, match=re.escape(f"{t} is not a merge-sink table")):
        read_merged_pruned(spark, t, ch.select("k"))
    assert sorted(os.listdir(t)) == before


def test_orphans_of_killed_first_merge_read_as_no_table(spark, tmp_path, monkeypatch):
    """A kill before the first pointer swap leaves version data and a
    manifest but no pointer: that is "no table yet". Reads say so, and
    a caller's committed-snapshot check (maintain_rollup) builds the
    table fresh over the orphans."""
    from mel_tnnt_spark.operators.rollup import maintain_rollup, time_rollup

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t = str(tmp_path / "rollup")
    real = os.rename

    def dying(src, dst, *a, **kw):
        if os.path.basename(src) == "_current.tmp":
            raise RuntimeError("injected kill before the pointer swap")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", dying)
    with pytest.raises(RuntimeError, match="injected kill"):
        maintain_rollup(spark, t, ev)
    monkeypatch.undo()
    assert os.listdir(os.path.join(t, "data")) == ["v0"]
    assert current_snapshot(t) is None and snapshots(t) == []
    with pytest.raises(ValueError, match="no committed snapshot"):
        read_merged(spark, t)

    half = ev.where(ev.event_id % 2 == 0)
    maintain_rollup(spark, t, half)
    assert current_snapshot(t) == 0
    assert _rollup_rows(read_merged(spark, t)) == _rollup_rows(time_rollup(half))


def test_txn_version_commits_with_the_data_and_replays_are_noops(spark, tmp_path):
    """`txn=(app_id, version)` is recorded in the manifest in the same
    commit as the data: a merge at or below the recorded version of its
    app id is a no-op returning the current snapshot id and running no
    Spark job, another app id applies, and a merge without txn or an
    expiry keeps the record."""
    t = str(tmp_path / "txn")
    sc = spark.sparkContext

    def merge(rows, txn=None):
        ch = spark.createDataFrame(rows, "id long, v string")
        return merge_upsert(spark, t, ch, keys=("id",), n_buckets=4, txn=txn)

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, sc.statusTracker().getJobIdsForGroup(group)

    s0 = merge([(1, "a")], txn=("app", 0))
    s1, applied_jobs = jobs_of("txn-applied", lambda: merge([(2, "b")], txn=("app", 1)))
    assert (s0, s1) == (0, 1) and applied_jobs  # the check below can see jobs

    # the same (app, v) twice: one snapshot, same id, zero jobs
    replayed, replay_jobs = jobs_of("txn-replay", lambda: merge([(2, "B")], txn=("app", 1)))
    assert replayed == s1 and replay_jobs == []
    # an older version after a newer one: no-op
    assert merge([(1, "A")], txn=("app", 0)) == s1
    assert current_snapshot(t) == s1 and len(snapshots(t)) == 2
    assert _state(spark, t) == {(1, "a"), (2, "b")}

    # another app id at version 0 applies
    assert merge([(3, "c")], txn=("other", 0)) == 2
    # a merge without txn applies and keeps the record
    assert merge([(4, "d")]) == 3
    assert snapshots(t)[-1]["txn"] == {"app": 1, "other": 0}

    expire_snapshots(t, keep_last=1)
    assert [m["snapshot_id"] for m in snapshots(t)] == [3]
    assert snapshots(t)[-1]["txn"] == {"app": 1, "other": 0}
    assert merge([(5, "e")], txn=("app", 1)) == 3
    assert _state(spark, t) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
