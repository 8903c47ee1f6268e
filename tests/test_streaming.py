"""Streaming front-end tests: availableNow incremental run over an
append-only directory, idempotent restart, and the watermarked window
aggregation shape."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tmpdirs():
    base = tempfile.mkdtemp(prefix="stream_")
    yield base
    shutil.rmtree(base, ignore_errors=True)


def test_incremental_stream(spark, code_files, tmpdirs):
    from mel_tnnt_spark.streaming.incremental import run_incremental

    src_dir = f"{tmpdirs}/src"
    out_dir = f"{tmpdirs}/out"
    ckpt = f"{tmpdirs}/ckpt"
    code_files.limit(40).write.mode("overwrite").parquet(src_dir)

    q = run_incremental(spark, src_dir, out_dir, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out_dir)
    n1 = got1.count()
    assert n1 > 0
    assert set(got1.columns) == {"subj", "pred", "obj", "batch_id"}

    # restart with no new data: no duplicate triples appended
    q2 = run_incremental(spark, src_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1

    # append new files -> only the delta is processed
    code_files.limit(60).subtract(code_files.limit(40)).write.mode("append").parquet(src_dir)
    q3 = run_incremental(spark, src_dir, out_dir, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() > n1


def test_mention_rate_window(spark, tmpdirs):
    from mel_tnnt_spark.streaming.incremental import mention_rate_stream

    src = f"{tmpdirs}/events"
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500)
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = mention_rate_stream(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rates").collect()
    assert rows
    # oracle: batch computation of the same windows
    batch = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            F.col("count").alias("cnt"),
        )
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in batch.collect()}


def test_stateful_first_seen_dedup(spark, tmpdirs):
    """applyInPandasWithState: state persists across micro-batches —
    a key seen in batch 1 and again in batch 2 keeps its original
    first_id and accumulates the dup count; restart from checkpoint
    does not re-emit."""
    from mel_tnnt_spark.streaming.stateful import first_seen_updates

    src = f"{tmpdirs}/docs"
    # batch 1: h1 twice (one dup), h2 once; batch 2: h1 again, h3 new
    b1 = spark.createDataFrame(
        [("h1", "d01"), ("h1", "d02"), ("h2", "d03")], "text_hash string, doc_id string"
    )
    b2 = spark.createDataFrame(
        [("h1", "d04"), ("h3", "d05")], "text_hash string, doc_id string"
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        rows = []
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            first_seen_updates(stream)
            .writeStream.foreachBatch(lambda df, _bid: rows.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdirs}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    rows1 = run()
    got1 = {(r["key"]): (r["first_id"], r["dups"]) for r in rows1}
    assert got1 == {"h1": ("d01", 1), "h2": ("d03", 0)}

    b2.coalesce(1).write.mode("append").parquet(src)
    rows2 = run()
    got2 = {(r["key"]): (r["first_id"], r["dups"]) for r in rows2}
    # only the delta batch emits; h1 keeps first_id=d01 from restored
    # state and the dup count accumulates; h2 unchanged -> no emission
    assert got2 == {"h1": ("d01", 2), "h3": ("d05", 0)}

    # stream == batch convergence: the final streamed state (latest
    # update per key) must equal the batch twin over the full corpus
    from mel_tnnt_spark.streaming.stateful import first_seen_batch

    final_state = {**got1, **got2}
    batch = {
        r["key"]: (r["first_id"], r["dups"])
        for r in first_seen_batch(b1.unionByName(b2)).collect()
    }
    assert final_state == batch


def test_sessionize_event_time_timeout(spark, tmpdirs):
    """EventTimeTimeout: a session closes (state freed, row emitted)
    only after the watermark passes last_event + gap; open sessions
    emit nothing."""
    from mel_tnnt_spark.streaming.stateful import sessionize

    src = f"{tmpdirs}/ev"
    schema = "user_id long, ts timestamp"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    import datetime as dt

    t = lambda h, m: dt.datetime(2026, 1, 1, h, m)  # noqa: E731
    write([(1, t(10, 0)), (1, t(10, 5))])   # batch 1: user 1 session
    write([(2, t(12, 0))])                   # batch 2: watermark 9:55
    write([(2, t(12, 5))])                   # batch 3: watermark 11:50 -> closes user 1

    rows = []
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        sessionize(stream, gap_minutes=30, watermark="10 minutes")
        .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdirs}/ckpt_sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["user_id"]): (r["session_start"], r["session_end"], r["n_events"]) for r in rows}
    assert got == {1: (t(10, 0), t(10, 5), 2)}  # user 2 still open -> absent


def test_sessionize_out_of_order_extends_start(spark, tmpdirs):
    """A late event (above the watermark) older than the stored session
    start must pull session_start backward — streaming and the batch
    gaps-and-islands oracle (q46) agree."""
    from mel_tnnt_spark.streaming.stateful import sessionize

    import datetime as dt

    src = f"{tmpdirs}/ev2"
    schema = "user_id long, ts timestamp"
    t = lambda h, m: dt.datetime(2026, 1, 1, h, m)  # noqa: E731

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    write([(1, t(10, 10))])                  # batch 1: session opens at 10:10
    write([(1, t(10, 2))])                   # batch 2: LATE event (wm 10:00) extends start back
    write([(2, t(12, 0))])                   # batch 3: wm 9:52
    write([(2, t(12, 5))])                   # batch 4: wm 11:50 closes user 1

    rows = []
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        sessionize(stream, gap_minutes=30, watermark="10 minutes")
        .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdirs}/ckpt_ooo")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["user_id"]: (r["session_start"], r["session_end"], r["n_events"]) for r in rows}
    assert got == {1: (t(10, 2), t(10, 10), 2)}


def _rollup_source(spark, tmpdirs):
    """The sf0.001 events split into three files, so three micro-batches
    (maxFilesPerTrigger=1)."""
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = f"{tmpdirs}/evsrc"
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    return ev, src


def _run_rollup_stream(spark, ev, src, rollup, ckpt):
    from mel_tnnt_spark.operators.rollup import maintain_rollup
    from mel_tnnt_spark.streaming.incremental import stream_maintain

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = stream_maintain(
        stream,
        lambda df, txn: maintain_rollup(df.sparkSession, rollup, df, txn=txn),
        ckpt,
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)
    return q


def _rollup_rows(df):
    return {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in df.collect()
    }


def _recorded_txn(table):
    from mel_tnnt_spark.operators.merge_sink import snapshots

    ((app_id, version),) = snapshots(table)[-1]["txn"].items()
    return app_id, version


def _fail_second_expire(monkeypatch):
    """Make merge_sink.expire_snapshots raise on its 2nd call: the
    maintained operators call it right after their merge's pointer
    swap, so batch 1 is committed and its micro-batch then fails."""
    from mel_tnnt_spark.operators import merge_sink

    real, calls = merge_sink.expire_snapshots, []

    def flaky(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("killed after the pointer swap")
        return real(*args, **kwargs)

    monkeypatch.setattr(merge_sink, "expire_snapshots", flaky)


def test_stream_maintain_rollup_equals_scratch(spark, tmpdirs):
    """Continuous aggregate from a stream: micro-batch maintenance
    through the O(touched) MERGE sink converges to the from-scratch
    rollup of the full history, and a restart (availableNow re-run over
    the same source) re-merges NOTHING (the checkpoint skips delivered
    batches; the merge's txn record skips a re-delivered one — the
    merge is additive, so this is what keeps it exactly-once)."""
    from mel_tnnt_spark.operators.merge_sink import read_merged
    from mel_tnnt_spark.operators.rollup import time_rollup

    ev, src = _rollup_source(spark, tmpdirs)
    rollup = f"{tmpdirs}/rollup"
    ckpt = f"{tmpdirs}/ckpt"

    q = _run_rollup_stream(spark, ev, src, rollup, ckpt)
    want = _rollup_rows(time_rollup(ev))
    assert _rollup_rows(read_merged(spark, rollup)) == want

    app_id, version = _recorded_txn(rollup)
    assert app_id == q.id
    assert version >= 1  # really ran as multiple micro-batches

    # restart over the same source: checkpoint + txn record -> no change
    _run_rollup_stream(spark, ev, src, rollup, ckpt)
    assert _rollup_rows(read_merged(spark, rollup)) == want


def test_stream_maintain_rollup_kill_after_swap_replays_once(spark, tmpdirs, monkeypatch):
    """A micro-batch killed after its merge committed is re-run by
    Structured Streaming with the same batch id on restart; the txn
    the merge recorded in the same commit makes that replay a no-op,
    so the additive rollup equals the from-scratch one (no batch
    counted twice)."""
    from pyspark.errors import StreamingQueryException

    from mel_tnnt_spark.operators.merge_sink import read_merged
    from mel_tnnt_spark.operators.rollup import time_rollup

    ev, src = _rollup_source(spark, tmpdirs)
    rollup = f"{tmpdirs}/rollup"
    ckpt = f"{tmpdirs}/ckpt"

    with monkeypatch.context() as m:
        _fail_second_expire(m)
        with pytest.raises(StreamingQueryException):
            _run_rollup_stream(spark, ev, src, rollup, ckpt)
    assert _recorded_txn(rollup)[1] == 1  # batch 1 committed, then killed

    q = _run_rollup_stream(spark, ev, src, rollup, ckpt)
    assert _rollup_rows(read_merged(spark, rollup)) == _rollup_rows(time_rollup(ev))
    assert _recorded_txn(rollup) == (q.id, 2)


def _edge_batches():
    import random

    rng = random.Random(31)
    batches = []
    for b in range(3):
        edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(20)]
        edges.append((100 + b, rng.randint(0, 60)))  # a new node per batch
        batches.append(edges)
    return batches


def _run_components_stream(spark, src, labels_path, ckpt, max_files=None):
    from mel_tnnt_spark.operators.components import maintain_components
    from mel_tnnt_spark.streaming.incremental import stream_maintain

    reader = spark.readStream.schema("src bigint, dst bigint")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    q = stream_maintain(
        reader.parquet(src),
        lambda df, txn: maintain_components(df.sparkSession, labels_path, df, txn=txn),
        ckpt,
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)
    return q


def _write_edge_source(spark, batches, src):
    for edges in batches:
        spark.createDataFrame(edges, "src bigint, dst bigint").coalesce(1).write.mode(
            "append"
        ).parquet(src)


def _scratch_components(spark, batches):
    from mel_tnnt_spark.operators.components import connected_components

    all_edges = spark.createDataFrame(
        [e for b in batches for e in b], "src bigint, dst bigint"
    )
    return sorted(map(tuple, connected_components(all_edges).collect()))


def test_stream_maintain_components_equals_scratch(spark, tmpdirs):
    """Continuous identity maintenance: micro-batched edge arrivals
    folded through incremental_components(changed_only) + the MERGE
    sink converge to from-scratch CC over the full edge history, and a
    restart over the same source re-merges nothing."""
    from mel_tnnt_spark.operators.merge_sink import read_merged

    batches = _edge_batches()
    src = f"{tmpdirs}/edgesrc"
    _write_edge_source(spark, batches, src)
    labels_path = f"{tmpdirs}/labels"
    ckpt = f"{tmpdirs}/cc_ckpt"

    q = _run_components_stream(spark, src, labels_path, ckpt, max_files=1)
    want = _scratch_components(spark, batches)
    got = sorted(map(tuple, read_merged(spark, labels_path).collect()))
    assert got == want

    app_id, version = _recorded_txn(labels_path)
    assert app_id == q.id and version >= 1

    _run_components_stream(spark, src, labels_path, ckpt, max_files=1)  # restart
    got2 = sorted(map(tuple, read_merged(spark, labels_path).collect()))
    assert got2 == want


def test_stream_maintain_components_kill_after_swap(spark, tmpdirs, monkeypatch):
    """The component-label stream killed after batch 1's commit and
    restarted on the same checkpoint ends at from-scratch CC."""
    from pyspark.errors import StreamingQueryException

    from mel_tnnt_spark.operators.merge_sink import read_merged

    batches = _edge_batches()
    src = f"{tmpdirs}/edgesrc"
    _write_edge_source(spark, batches, src)
    labels_path = f"{tmpdirs}/labels"
    ckpt = f"{tmpdirs}/cc_ckpt"

    with monkeypatch.context() as m:
        _fail_second_expire(m)
        with pytest.raises(StreamingQueryException):
            _run_components_stream(spark, src, labels_path, ckpt, max_files=1)
    assert _recorded_txn(labels_path)[1] == 1

    q = _run_components_stream(spark, src, labels_path, ckpt, max_files=1)
    got = sorted(map(tuple, read_merged(spark, labels_path).collect()))
    assert got == _scratch_components(spark, batches)
    assert _recorded_txn(labels_path) == (q.id, 2)


def test_stream_maintain_components_drops_null_endpoints(spark, tmpdirs):
    """A null src/dst row in an edge micro-batch must be dropped, not
    poison the union-find and wedge the stream (round-3 review)."""
    from mel_tnnt_spark.operators.merge_sink import read_merged

    src = f"{tmpdirs}/nulledges"
    _write_edge_source(spark, [[(1, 2), (None, 5), (3, None)]], src)
    labels_path = f"{tmpdirs}/nulllabels"
    _run_components_stream(spark, src, labels_path, f"{tmpdirs}/nullckpt")
    got = sorted(map(tuple, read_merged(spark, labels_path).collect()))
    assert got == [(1, 1), (2, 1)]


@pytest.mark.parametrize(
    "op", ["overlap_index", "span_index", "pack_layout", "domain_caps", "components"]
)
def test_maintained_operators_drop_null_keys(spark, tmpdirs, op):
    """Outside input can carry a null key. Each maintained operator
    drops it itself, so a batch call and a stream call agree: every
    batch with an extra null-key row gives the same result as without
    it."""
    from collections import Counter

    from mel_tnnt_spark.operators.components import maintain_components
    from mel_tnnt_spark.operators.curation import maintain_domain_caps
    from mel_tnnt_spark.operators.dedup import maintain_overlap_index, maintain_span_index
    from mel_tnnt_spark.operators.merge_sink import read_merged
    from mel_tnnt_spark.operators.packing import maintain_pack_layout

    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = "id bigint, text string"
    doc_batches = [
        [(1, para + " origin tail"), (2, "unrelated words about nothing")],
        [(10, "copied opener " + para), (11, "more unrelated filler text")],
    ]

    def components(path, df):
        maintain_components(spark, path, df)
        return read_merged(spark, path)

    schema, batches, null_row, run = {
        "overlap_index": (docs, doc_batches, (None, para), lambda path, df: (
            maintain_overlap_index(spark, path, df, min_shared=1, max_df=None))),
        "span_index": (docs, doc_batches, (None, para), lambda path, df: (
            maintain_span_index(spark, path, df, k=5))),
        "pack_layout": (docs, doc_batches, (None, "x y z"), lambda path, df: (
            maintain_pack_layout(spark, path, df, "id", "text", capacity=4))),
        "domain_caps": (
            "id bigint, source string",
            [[(1, "web"), (2, "wiki")], [(3, "web"), (4, "web")]],
            (None, "web"),
            lambda path, df: maintain_domain_caps(spark, path, df, "source", "id", cap=2),
        ),
        "components": (
            "src bigint, dst bigint", [[(1, 2), (3, 4)], [(2, 3), (5, 6)]], (None, 1),
            components,
        ),
    }[op]

    def results(name, extra):
        path = f"{tmpdirs}/{name}"
        return [
            Counter(map(tuple, run(path, spark.createDataFrame(rows + extra, schema)).collect()))
            for rows in batches
        ]

    assert results("plain", []) == results("with_null", [null_row])


def test_stream_maintain_overlap_index_equals_scratch(spark, tmpdirs):
    """Continuous contamination checking: micro-batched document
    arrivals through maintain_overlap_index emit exactly the
    cross-step pairs a from-scratch chained run produces, the
    persisted index converges to the same logical contents, and a
    restart over the same source re-applies nothing (the checkpoint;
    a replayed batch republishes its own pairs entry)."""
    import os

    from mel_tnnt_spark.operators.dedup import (
        overlap_pairs_against,
        read_overlap_index,
        winnowing_fingerprints,
    )
    from mel_tnnt_spark.operators.dedup import maintain_overlap_index
    from mel_tnnt_spark.streaming.incremental import read_stream_output, stream_maintain

    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [
        [(1, para + " origin tail one"), (2, "unrelated words about nothing much")],
        [(10, "copied opener " + para)],
        [(20, para + " third appearance"), (21, "more unrelated filler text")],
    ]
    src = f"{tmpdirs}/docsrc"
    for rows in batches:
        spark.createDataFrame(rows, "id bigint, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    idx = f"{tmpdirs}/ovidx"
    pairs_path = f"{tmpdirs}/ovpairs"

    def run():
        stream = (
            spark.readStream.schema("id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_maintain(
            stream,
            lambda df, _txn: maintain_overlap_index(
                df.sparkSession, idx, df, min_shared=1, max_df=None
            ),
            f"{tmpdirs}/ov_ckpt",
            pairs_path,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    run()

    # expected: union over arrival order of prior-corpus-vs-batch pairs
    # (streaming batches may differ from file order, but pair sets are
    # symmetric in this corpus: every later doc shares only `para` with
    # every earlier para-doc)
    want = set()
    seen: list[tuple[int, str]] = []
    for rows in batches:
        if seen:
            corpus_fp = winnowing_fingerprints(
                spark.createDataFrame(seen, "id bigint, text string"), "id", "text"
            )
            batch_df = spark.createDataFrame(rows, "id bigint, text string")
            want |= {
                (r["corpus_id"], r["batch_id"])
                for r in overlap_pairs_against(
                    corpus_fp, batch_df, "id", "text", min_shared=1, max_df=None
                ).collect()
            }
        seen += rows
    got = {
        (r["corpus_id"], r["batch_id"])
        for r in read_stream_output(spark, pairs_path).collect()
    }
    assert got == want
    assert (1, 10) in got and (1, 20) in got and (10, 20) in got

    n_index = read_overlap_index(spark, idx).count()
    n_pair_dirs = len(os.listdir(pairs_path))
    assert n_index > 0 and n_pair_dirs >= 2  # >=2 non-empty batches paired

    run()  # restart: checkpoint -> nothing re-applied
    assert read_overlap_index(spark, idx).count() == n_index
    assert len(os.listdir(pairs_path)) == n_pair_dirs
    got2 = {
        (r["corpus_id"], r["batch_id"])
        for r in read_stream_output(spark, pairs_path).collect()
    }
    assert got2 == want


def test_stream_excise_spans_equals_scratch_and_restart_noop(spark, tmpdirs):
    """Streaming span excision: micro-batched doc arrivals rewritten
    against the persisted gram index equal excise_duplicate_spans on
    the concatenated corpus (ids ordered with arrival; one file per
    trigger so batch order is deterministic), and a restart over the
    same source re-applies nothing."""
    import os

    from mel_tnnt_spark.operators.dedup import excise_duplicate_spans, maintain_span_index
    from mel_tnnt_spark.streaming.incremental import read_stream_output, stream_maintain

    run = "one two three four five six seven"
    batches = [
        [(1, run + " plus unique tail alpha"),
         (2, "completely different words here nothing shared at all")],
        [(10, "prefix text then " + run), (11, run)],
        [(20, run + " again and again " + run)],
    ]
    src = f"{tmpdirs}/exsrc"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "id bigint, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    idx = f"{tmpdirs}/exidx"
    out_path = f"{tmpdirs}/exout"

    def go():
        stream = (
            spark.readStream.schema("id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_maintain(
            stream,
            lambda df, _txn: maintain_span_index(df.sparkSession, idx, df, k=5),
            f"{tmpdirs}/ex_ckpt",
            out_path,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    go()
    got = {
        r["id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in read_stream_output(spark, out_path).collect()
    }
    scratch = {
        r["id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in excise_duplicate_spans(
            spark.createDataFrame(
                [r for bb in batches for r in bb], "id bigint, text string"
            ),
            "id", "text", k=5,
        ).collect()
    }
    # NOTE: streaming file order is arrival order here (one file per
    # trigger, ids ascend with batches), so chained == scratch holds
    assert got == scratch

    before = {
        d: sorted(os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
    }
    go()  # restart: checkpoint -> no-op
    after = {
        d: sorted(os.listdir(os.path.join(out_path, d)))
        for d in os.listdir(out_path)
    }
    assert after == before
