"""Sequence packing for pretraining-data assembly: lay a corpus of
documents end-to-end into fixed-capacity context windows (the
GPT-style "concat and chunk" layout) — the step between curation and
the training dataloader. Not in the reference (its pipeline ends at
per-document outputs; cf. the per-file writer code/MEL/__init__.py's
JSON sink); this is one of the added large-scale-training operators
the task brief calls for.

Scale design — THE trap here is the global running sum: a naive
`sum() over (order by id)` window has no partition key, so Catalyst
plans ONE task holding the whole corpus. pack_sequences instead runs
the classic two-level scan:

  1. deterministic id-space groups (floor(id / span), span sized so
     ~n_groups groups exist) — order-preserving by construction;
  2. intra-group running sums via a window PARTITIONED by group
     (bounded partitions, parallel);
  3. group prefix offsets from the n_groups-row totals frame (a
     window over n_groups rows — trivially small), broadcast back.

intra-group cumsum + group prefix == the global cumsum exactly
(integer sums), so a DuckDB oracle using the plain global window
reproduces it bit-for-bit (q87).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int,
    n_groups: int = 1024,
) -> DataFrame:
    """Per-document packed layout: (id, n_tokens, start_offset,
    bin_id, offset_in_bin, spans_boundary) where start_offset is the
    document's first token position in the concatenated corpus
    (ordered by id ascending), bin_id = floor(start_offset/capacity),
    and spans_boundary marks documents whose tokens straddle a
    context-window edge (the dataloader's attention-mask reset /
    document-splitting case). Tokens = whitespace tokens, consistent
    with textstats.token_count's ws_tokens.

    Empty/NULL-text documents occupy zero tokens: they sit at their
    running offset with n_tokens=0 and never span."""
    if capacity < 1:
        raise ValueError(f"pack_sequences: capacity must be >= 1, got {capacity}")
    # whitespace tokenizer — IDENTICAL to assemble_packed's split and
    # the excision/trainer tokenizers, so counts and assembly agree
    n_tok = F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != F.lit(""),
        )
    ).cast("long")
    base = docs.select(F.col(id_col).cast("long").alias("id"), n_tok.alias("n_tokens"))
    # deterministic, order-preserving id-space grouping: span from the
    # (tiny, exact) min/max aggregate — works for sparse/negative ids
    bounds = base.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    )
    span = (
        (F.col("hi") - F.col("lo") + 1 + F.lit(n_groups) - 1)
        / F.lit(n_groups)
    ).cast("long")
    grouped = base.join(F.broadcast(bounds), F.lit(True)).select(
        "id",
        "n_tokens",
        F.floor((F.col("id") - F.col("lo")) / F.greatest(span, F.lit(1))).alias("_g"),
    )
    intra = Window.partitionBy("_g").orderBy("id")
    with_intra = grouped.select(
        "id",
        "n_tokens",
        "_g",
        (F.sum("n_tokens").over(intra) - F.col("n_tokens")).alias("_intra_start"),
    )
    totals = grouped.groupBy("_g").agg(F.sum("n_tokens").alias("_gtot"))
    prefix = totals.select(
        "_g",
        (
            F.sum("_gtot").over(Window.orderBy("_g")) - F.col("_gtot")
        ).alias("_gprefix"),
    )
    start = F.col("_gprefix") + F.col("_intra_start")
    end = start + F.col("n_tokens") - 1
    bin_id = F.floor(start / F.lit(capacity))
    return (
        with_intra.join(F.broadcast(prefix), "_g")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            start.alias("start_offset"),
            bin_id.alias("bin_id"),
            (start % F.lit(capacity)).alias("offset_in_bin"),
            (
                (F.col("n_tokens") > 0)
                & (F.floor(end / F.lit(capacity)) != bin_id)
            ).alias("spans_boundary"),
        )
    )


def assemble_packed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int,
    n_groups: int = 1024,
) -> DataFrame:
    """Materialize the packed context windows themselves:
    (bin_id, n_tokens, packed_text) with every window except the last
    holding exactly `capacity` tokens (documents straddle edges, the
    concat-and-chunk contract). Linear: one explode of the token
    stream keyed by global position, one shuffle on bin_id; per-bin
    state is bounded by capacity."""
    layout = pack_sequences(docs, id_col, text_col, capacity, n_groups)
    toks = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != F.lit(""),
        ).alias("_w"),
    )
    pos = (
        toks.join(layout.select(id_col, "start_offset"), id_col)
        .select("start_offset", F.posexplode("_w").alias("_i", "tok"))
        .select("tok", (F.col("start_offset") + F.col("_i")).alias("gpos"))
    )
    return (
        pos.groupBy(F.floor(F.col("gpos") / F.lit(capacity)).alias("bin_id"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("gpos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("packed_text"),
        )
    )


def assign_shards(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_shards: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """Deterministic balanced shard assignment for the training
    dataloader: global rank documents by (n_tokens DESC, id ASC) and
    deal them round-robin across n_shards — the classic
    longest-processing-time heuristic, which bounds per-shard token
    imbalance by one max-document regardless of the size
    distribution. Output: (id, n_tokens, global_rank, shard).

    Scale design — same trap as pack_sequences: the global rank must
    NOT be a single-partition `row_number() over (order by ...)`.
    Here the two-level scan buckets by TOKEN RANGE (floor bucketing on
    n_tokens, bounds from a tiny min/max aggregate): every row in a
    higher bucket outranks every row in a lower one, so intra-bucket
    row_number (parallel, partitioned) + descending prefix counts over
    the n_buckets-row totals frame == the exact global rank."""
    if n_shards < 1:
        raise ValueError(f"assign_shards: n_shards must be >= 1, got {n_shards}")
    n_tok = F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != F.lit(""),
        )
    ).cast("long")
    # keep the id column's NATIVE type (round-6 advice): only n_tokens
    # needs to be numeric; casting string/UUID ids to long would NULL
    # them, collapsing the (n_tokens DESC, id ASC) tie order to
    # non-deterministic NULL ties and emitting NULL ids.
    base = docs.select(F.col(id_col).alias("id"), n_tok.alias("n_tokens"))
    bounds = base.agg(F.min("n_tokens").alias("lo"), F.max("n_tokens").alias("hi"))
    span = (
        (F.col("hi") - F.col("lo") + 1 + F.lit(n_buckets) - 1) / F.lit(n_buckets)
    ).cast("long")
    bucketed = base.join(F.broadcast(bounds), F.lit(True)).select(
        "id",
        "n_tokens",
        F.floor(
            (F.col("n_tokens") - F.col("lo")) / F.greatest(span, F.lit(1))
        ).alias("_b"),
    )
    intra = Window.partitionBy("_b").orderBy(F.desc("n_tokens"), F.asc("id"))
    with_intra = bucketed.withColumn("_rn", F.row_number().over(intra))
    totals = bucketed.groupBy("_b").agg(F.count("*").alias("_cnt"))
    prefix = totals.select(
        "_b",
        (
            F.sum("_cnt").over(Window.orderBy(F.desc("_b"))) - F.col("_cnt")
        ).alias("_prefix"),
    )
    rank = F.col("_prefix") + F.col("_rn")
    return (
        with_intra.join(F.broadcast(prefix), "_b")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            rank.alias("global_rank"),
            F.pmod(rank - 1, F.lit(n_shards)).alias("shard"),
        )
    )


def maintain_pack_layout(
    spark,
    state_path: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int,
    n_groups: int = 1024,
) -> DataFrame:
    """Incremental sequence-packing layout for batch-arriving crawls:
    each batch's documents are laid out AFTER everything already
    packed — the persisted state is one integer (the corpus token
    total so far) plus the applied-batch ledger, so steady-state cost
    is O(batch) regardless of corpus size (no rescan of prior
    batches; contrast a from-scratch pack_sequences of the union).

    Chained == scratch whenever ids ascend with arrival order (the
    same theorem as maintain_span_index, q86): batch-relative offsets
    from the two-level scan plus the persisted base equal the global
    cumsum exactly. q94 gates that equivalence against the
    from-scratch oracle SQL.

    Replay-safe: the batch's content hash keys the ledger — a
    re-delivered batch reuses its ORIGINAL base offset and does not
    advance the total, so crash/replay returns bit-identical layout
    rows (the state file is a `state.write_json` commit, never
    partially visible). Driver state is O(1) per applied batch;
    output rows are localCheckpoint-ed so callers can consume them
    after the state advances. Rows with a null id are dropped.

    Streaming (`stream_maintain`): replay-safe for the last uncommitted
    batch on its own, so it takes no `txn`; stream == scratch is pinned
    in tests/test_corpus_composition.py."""
    import os

    from mel_tnnt_spark.operators.dedup import content_tag
    from mel_tnnt_spark.state import read_json, write_json

    state_file = os.path.join(state_path, "_state.json")
    state = read_json(state_file, {"total": 0, "applied": {}})
    batch = batch.dropna(subset=[id_col])
    tag = content_tag(
        batch, F.col(id_col), F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    )
    replay = tag in state["applied"]
    base = int(state["applied"][tag]) if replay else int(state["total"])
    rel = pack_sequences(batch, id_col, text_col, capacity, n_groups)
    start = F.col("start_offset") + F.lit(base)
    end = start + F.col("n_tokens") - 1
    bin_id = F.floor(start / F.lit(capacity))
    out = rel.select(
        id_col,
        "n_tokens",
        start.alias("start_offset"),
        bin_id.alias("bin_id"),
        (start % F.lit(capacity)).alias("offset_in_bin"),
        (
            (F.col("n_tokens") > 0) & (F.floor(end / F.lit(capacity)) != bin_id)
        ).alias("spans_boundary"),
    ).localCheckpoint()
    if not replay:
        batch_tokens = out.agg(F.sum("n_tokens")).first()[0] or 0
        state["applied"][tag] = base
        state["total"] = base + int(batch_tokens)
        write_json(state_file, state)
    return out
