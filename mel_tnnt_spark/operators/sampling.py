"""Sampling operators (reference: per-extension / per-size-bucket random
sampling QA harness, code/NLP_NER/Sampling.py:25-166; rates in
sampling-config.json).

Two variants:
- `stratified_sample`: Spark-native sampleBy (probabilistic, like the
  reference's random.sample — not oracle-checkable by construction).
- `deterministic_sample`: hash-mod systematic sampling — the
  scale-appropriate form (reproducible across runs/engines, no RNG
  state), used for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_bucket(col_name: str) -> F.Column:
    """A9 — the reference's <100KB / <1MB / >=1MB buckets
    (code/NLP_NER/Sampling.py:126-136), parameterized here in bytes of
    the given length column."""
    c = F.col(col_name)
    return (
        F.when(c < 100 * 1024, "small").when(c < 1024 * 1024, "medium").otherwise("large")
    )


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict[str, float], seed: int = 42) -> DataFrame:
    return df.sampleBy(strata_col, fractions, seed)


def deterministic_sample(df: DataFrame, id_col: str, rate_denominator: int = 10) -> DataFrame:
    """Keep rows where md5(id) mod D == 0 — engine-portable systematic
    sample at rate 1/D."""
    h = f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    return df.where(F.expr(f"pmod({h}, {rate_denominator}) = 0"))


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, the A-ES one-pass scheme): each row draws a deterministic
    pseudo-uniform u from md5(id) and is ranked by key = -ln(u)/w —
    the k smallest keys are EXACTLY a weight-proportional sample
    without replacement. The curation use: sample a fixed-size
    training subset biased toward quality/length weights,
    reproducibly (no RNG state, same sample on any engine — the
    oracle re-derives it).

    Rows with NULL or non-positive weight are never sampled (the
    standard A-ES domain; they'd need key = +inf).

    Scale: the k-smallest is a global top-k (TakeOrderedAndProject:
    per-partition heaps, one k-row merge at the driver) — no global
    sort, no single-partition window. Scaling every weight by a
    positive constant rescales every key by its inverse, so the
    SAMPLE is scale-invariant (property-pinned)."""
    if k < 0:
        raise ValueError(f"weighted_sample: k must be >= 0, got {k}")
    # u = (h+1) / 16^15 in (0, 1]: h is the first 60 bits of md5(id),
    # +1 keeps ln(u) finite at h = 0. 16^15 = 2^60 is exact in double
    # and int64 -> double rounds identically on both engines.
    h = (
        f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 1, 15), 16, 10) "
        "AS DOUBLE)"
    )
    u = (F.expr(h) + F.lit(1.0)) / F.lit(float(16**15))
    key = -F.log(u) / F.col(weight_col)
    # Order/select on the FULL-precision key (boundary gaps are ~1/n,
    # far above cross-engine libm-ln ulp); emit it rounded to 6 so the
    # value hash can't trip on last-ulp ln() divergence.
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_k", key)
        .orderBy("_k", id_col)
        .limit(k)
        .withColumn("es_key", F.round(F.col("_k"), 6))
        .drop("_k")
    )


def maintain_weighted_sample(
    spark,
    state_path: str,
    batch: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Incremental weighted sampling without replacement: fold each
    arriving batch into a persisted k-row A-ES reservoir. Because the
    Efraimidis-Spirakis key depends only on (id, weight) — md5-derived
    uniform, no RNG state — the top-k is a MERGEABLE summary:
    top_k(state u batch) == top_k(everything seen), so the maintained
    sample equals weighted_sample() over the full history EXACTLY,
    with NO arrival-order caveat at all (stronger than the
    id-ascending theorems of the other maintained operators; q99
    gates chained == scratch through the from-scratch oracle).

    State is (id, weight) under `state_path/v=<n>/` — at most k rows,
    re-keyed on every fold (k + |batch| rows of key math, trivial).
    Folds are naturally idempotent: a replayed batch's rows either
    already sit in the reservoir or lost to keys that still beat them
    — a set-union top-k cannot double-count (identical rows dedup by
    id before selection). Crash safety: each fold publishes version
    n+1 through `state.publish` (crash windows in
    mel_tnnt_spark/state.py) with the last version retained, so a
    crash mid-write leaves v=n intact and the replay recreates v=n+1
    identically.

    Streaming (`stream_maintain`): replay-safe for the last uncommitted
    batch on its own, so it takes no `txn`; stream == scratch is pinned
    in tests/test_graph_query.py."""
    import os
    import shutil

    from mel_tnnt_spark.state import numbered, publish

    vs = numbered(state_path, "v=")
    fresh = batch.select(
        F.col(id_col).alias("id"), F.col(weight_col).cast("double").alias("w")
    )
    if vs:
        state = spark.read.parquet(os.path.join(state_path, f"v={vs[-1]}"))
        pool = state.unionByName(fresh)
    else:
        pool = fresh
    # deterministic per-id dedup (max weight) — dropDuplicates picks an
    # arbitrary row and would break replay determinism if the same id
    # ever re-arrived with a different weight
    pool = pool.groupBy("id").agg(F.max("w").alias("w"))
    new = weighted_sample(pool, "id", "w", k).select("id", "w", "es_key")
    nxt = (vs[-1] + 1) if vs else 1
    publish(new.select("id", "w"), state_path, f"v={nxt}")
    for old in vs[:-1]:
        shutil.rmtree(os.path.join(state_path, f"v={old}"), ignore_errors=True)
    return new.localCheckpoint()


def contrastive_triplets(
    df: DataFrame, id_col: str, group_col: str
) -> DataFrame:
    """Weak-supervision contrastive training triplets (anchor,
    positive, negative) — the embedding-training data miner (the
    in-batch-negatives recipe made explicit): the positive is the
    anchor's in-group predecessor (same domain/language — the standard
    weak positive when no near-dup pair exists), the negative a
    deterministic md5-derived pick from a DIFFERENT group, so the
    whole triplet table is bit-reproducible on any engine (the
    weighted_sample/deterministic_walks discipline — no RNG state).

    Negative pick: candidate dense-rank h(anchor) % n, advancing
    through up to 3 consecutive ranks until the group differs (NULL if
    all three collide — the all-one-group degenerate corpus). Dense
    ranks here use a plain global row_number (gate-size corpora; swap
    in the q87/q93 two-level scan when mining at corpus scale — the
    candidate join itself is a bounded 3-fanout equi-join either
    way)."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp"))
    w_grp = Window.partitionBy("grp").orderBy("id")
    anchors = (
        base.withColumn("positive_id", F.lag("id").over(w_grp))
        .where(F.col("positive_id").isNotNull())
        .select(F.col("id").alias("anchor_id"), "grp", "positive_id")
    )
    rid = F.row_number().over(Window.orderBy("id")) - 1
    dim = base.select(
        rid.alias("cand_rid"),
        F.col("id").alias("cand_id"),
        F.col("grp").alias("cand_grp"),
    )
    n = base.agg(F.count(F.lit(1)).alias("n"))
    h = (
        "cast(conv(substr(md5(concat('neg|', cast(anchor_id as string))), "
        "1, 15), 16, 10) as bigint)"
    )
    cands = (
        anchors.join(F.broadcast(n), F.lit(True))
        .select(
            "anchor_id", "grp", "positive_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("off"),
            F.expr(h).alias("_h"),
            F.col("n"),
        )
        .withColumn("cand_rid", F.expr("pmod(_h + off, n)"))
    )
    picked = (
        cands.join(dim, "cand_rid")
        .where(F.col("cand_grp") != F.col("grp"))
        .groupBy("anchor_id", "positive_id")
        .agg(F.min_by("cand_id", "off").alias("negative_id"))
    )
    return anchors.select("anchor_id", "positive_id").join(
        picked, ["anchor_id", "positive_id"], "left"
    )
