"""Corpus-composition operators for pretraining-data curation: the
step that decides WHAT fraction of each domain/language/host makes it
into the training mix. Not in the reference (its pipeline selects by
extension/size only — code/NLP_NER/Sampling.py:25-166 and the
extension predicates in code/MEL/__init__.py); these are the added
large-scale-training operators the task brief calls for, modeled on
the published curation recipes (CCNet/RefinedWeb host-frequency caps,
DoReMi-style domain mixtures, token-budget corpus assembly).

All three operators are pure DataFrame plans (zero UDFs) and share one
scale discipline: the per-group rank/cumsum they need is computed with
a SKEW-HARDENED two-stage rank — a salted pre-prune bounds how many
rows of a pathological mega-group (one host owning 30% of a 100 TB
crawl is normal) ever reach the exact per-group window:

  stage 1: rank within (group, salt) — salt = hash(id) mod S, so the
           mega-group's rows split across S bounded partitions; any
           row whose TRUE group rank is <= cap also has within-salt
           rank <= cap (a subsequence preserves relative order), so
           keeping within-salt rank <= cap never drops a winner;
  stage 2: exact row_number over the pruned set — at most S*cap rows
           per group regardless of group size.

The exact window in stage 2 therefore sees O(S*cap) rows per group —
the operator's memory/shuffle profile is set by the CAP, not by the
skew of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["cap_per_group", "token_budget_select", "mixture_sample", "epoch_mixture", "maintain_domain_caps"]


def _ws_tokens(text_col: str) -> Column:
    """Whitespace token count — IDENTICAL to packing.pack_sequences
    and textstats.token_count's ws_tokens, so budgets agree with the
    packer's layout."""
    return F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda t: t != F.lit(""),
        )
    ).cast("long")


def _salted_exact_rank(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    cap_col: Column,
    n_salts: int,
    id_col: str,
) -> DataFrame:
    """Two-stage skew-hardened per-group rank (see module docstring).
    `cap_col` may be a per-row column (e.g. a per-group quota joined
    from a broadcast dim). Emits `rank_in_group` (exact, 1-based) and
    keeps only rows with rank_in_group <= cap."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    ).withColumn("_cap", cap_col)
    w1 = Window.partitionBy(group_col, "_salt").orderBy(*order_cols)
    pruned = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= F.col("_cap"))
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        pruned.withColumn("rank_in_group", F.row_number().over(w2))
        .where(F.col("rank_in_group") <= F.col("_cap"))
        .drop("_cap")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    n_salts: int = 16,
) -> DataFrame:
    """Host/domain frequency capping (CCNet/RefinedWeb "URL dedup +
    per-host cap"): keep at most `cap` rows per group, deterministic
    first-by-id order, with the group's exact 1-based `rank_in_group`
    attached. Skew-hardened: a group 1000x larger than the others
    costs one bounded salted window plus an exact window over at most
    n_salts*cap of its rows."""
    if cap < 1:
        raise ValueError(f"cap_per_group: cap must be >= 1, got {cap}")
    return _salted_exact_rank(
        df, group_col, [id_col], F.lit(cap), n_salts, id_col
    )


def token_budget_select(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    budget: int,
) -> DataFrame:
    """Greedy per-group token-budget fill: walk each group's documents
    in id order accumulating whitespace-token counts; a document is
    kept iff the running total THROUGH it stays <= budget (prefix
    rule — deterministic, order-stable, no knapsack backtracking).
    Returns every document with (n_tokens, cum_tokens, kept) so the
    caller can audit the cut point.

    Scale: one shuffle on group_col for the running-sum window. The
    window itself is a running aggregate (constant state per row, no
    buffering of the frame), so a mega-group costs I/O, not memory;
    when only the kept prefix is wanted at extreme skew, pre-prune
    with cap_per_group(cap ~= budget / min_doc_tokens) first — the
    budget bounds how deep into any group the kept prefix can reach.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        _ws_tokens(text_col).alias("n_tokens"),
    )
    w = Window.partitionBy("grp").orderBy("id")
    return base.select(
        "id",
        F.col("grp").alias(group_col),
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    ).withColumn("kept", F.col("cum_tokens") <= F.lit(budget))


def mixture_sample(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    shares: dict[str, float],
    total_docs: int,
    n_salts: int = 16,
) -> DataFrame:
    """Target-mixture domain sampling (the DoReMi/Pile recipe shape):
    given target proportions per group and a total document budget,
    select floor(share*total + 0.5) documents from each group,
    deterministically pseudo-random — each group is ordered by
    md5(id) (engine-portable, reproducible, no RNG state) and the
    first `quota` documents win. Groups absent from `shares` get
    quota 0 (dropped); a group smaller than its quota contributes
    everything it has (the caller sees the shortfall as
    max(rank_in_group) < quota).

    Returns (id, group, rank_in_group, quota) for the selected rows.

    Scale: the quota dim is a broadcast LocalRelation (|shares| rows);
    selection is the same salted two-stage rank as cap_per_group, so
    a group holding half the corpus never funnels through one task.
    """
    if total_docs < 0:
        raise ValueError(f"mixture_sample: total_docs must be >= 0, got {total_docs}")
    from mel_tnnt_spark.session import local_dim

    spark = docs.sparkSession
    quotas = [
        (g, int(s * total_docs + 0.5)) for g, s in sorted(shares.items())
    ]
    dim = local_dim(spark, quotas, "grp string, quota long")
    base = docs.select(
        F.col(id_col).alias("id"), F.col(group_col).alias("grp")
    ).join(F.broadcast(dim), "grp")
    ordered = base.withColumn("_h", F.md5(F.col("id").cast("string")))
    picked = _salted_exact_rank(
        ordered.where(F.col("quota") > 0),
        "grp",
        ["_h", "id"],
        F.col("quota"),
        n_salts,
        "id",
    )
    return picked.select(
        "id", F.col("grp").alias(group_col), "rank_in_group", "quota"
    )


def epoch_mixture(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    targets: dict[str, int],
) -> DataFrame:
    """Epoch-based domain upsampling (the LLaMA/GPT data-recipe shape:
    small high-quality domains repeat for several epochs, the crawl
    sees less than one): given a TOKEN target per group, emit (id,
    group, epoch, n_tokens) rows where every document appears in
    epochs 0..repeats-1 in full, plus a FRACTIONAL last epoch filled
    greedily in deterministic md5 order until the leftover budget is
    spent.

    All epoch math is INTEGER-exact, so the oracle reproduces it
    bit-for-bit: repeats = target DIV domain_tokens and the
    fractional budget = target MOD domain_tokens (no float repeat
    factors anywhere). Groups absent from `targets`, and degenerate
    groups with zero total tokens, contribute nothing.

    Scale: the group stats are one aggregate; the epoch explode
    multiplies rows by `repeats` (bounded by the recipe, typically
    <= ~5); the fractional fill is the same running-sum window as
    token_budget_select (one shuffle on the group key)."""
    from mel_tnnt_spark.session import local_dim

    spark = docs.sparkSession
    dim = local_dim(
        spark, sorted(targets.items()), "grp string, target long"
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        _ws_tokens(text_col).alias("n_tokens"),
    )
    gstats = (
        base.groupBy("grp")
        .agg(F.sum("n_tokens").alias("dom"))
        .join(F.broadcast(dim), "grp")
        .where(F.col("dom") > 0)
        .select(
            "grp",
            F.expr("target DIV dom").alias("repeats"),
            F.pmod(F.col("target"), F.col("dom")).alias("rem"),
        )
    )
    joined = base.join(F.broadcast(gstats), "grp")
    full = joined.where(F.col("repeats") >= 1).select(
        "id",
        "grp",
        F.explode(F.sequence(F.lit(0), F.col("repeats") - 1)).alias("epoch"),
        "n_tokens",
    )
    w = Window.partitionBy("grp").orderBy(F.md5(F.col("id").cast("string")), "id")
    frac = (
        joined.withColumn("_cum", F.sum("n_tokens").over(w))
        .where(F.col("_cum") <= F.col("rem"))
        .select("id", "grp", F.col("repeats").cast("long").alias("epoch"), "n_tokens")
    )
    return full.unionByName(frac).select(
        "id", F.col("grp").alias(group_col), "epoch", "n_tokens"
    )


def maintain_domain_caps(
    spark,
    state_path: str,
    batch: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    n_salts: int = 16,
) -> DataFrame:
    """Incremental per-host frequency capping for batch-arriving
    crawls (cap_per_group made stateful — the live "rate limit each
    domain" decision a crawl frontier applies): every arriving
    document is ACCEPTED iff its group's lifetime accepted count,
    in arrival-then-id order, stays <= cap. Returns (id, group,
    accepted) for the WHOLE batch (drops are visible, not silent).

    State is the accepted-docs log under
    `state_path/accepted/batch=<content-hash>/` — and it is BOUNDED
    BY THE POLICY, not the corpus: each group accepts at most `cap`
    documents ever, so the whole log holds <= n_groups*cap rows no
    matter how much crawl flows through. Reading it each batch is
    O(state), state is O(output cap).

    Idempotency contract — LATEST-BATCH crash replay (round-6 advice
    narrowed this from "any replay"): the batch's own directory is
    excluded when computing prior counts (same own-tag anti-join
    discipline as maintain_span_index), so replaying the batch that
    crashed (or the most recent one) sees the exact pre-batch state,
    reproduces the identical decisions, and republishes an identical
    content-addressed directory (`state.publish`; crash windows in
    mel_tnnt_spark/state.py). Replaying an OLDER batch after later
    batches were applied is NOT supported: its prior counts would
    include the later batches' accepted rows, producing different
    decisions (a per-batch prior-count ledger, the
    maintain_pack_layout pattern, would be needed to lift this —
    deliberately not paid until a caller needs out-of-order replay).
    Chained == scratch cap_per_group on the union whenever ids ascend
    with arrival — q98 gates that equivalence. Rows with a null id are
    dropped.

    Streaming (`stream_maintain`): replay-safe for the last uncommitted
    batch on its own, so it takes no `txn`; stream == scratch is pinned
    in tests/test_corpus_composition.py."""
    import os

    from mel_tnnt_spark.operators.dedup import content_tag
    from mel_tnnt_spark.state import entries, publish

    if cap < 1:
        raise ValueError(f"maintain_domain_caps: cap must be >= 1, got {cap}")
    base = batch.select(
        F.col(id_col).alias("id"), F.col(group_col).alias("grp")
    ).dropna(subset=["id"])
    tag = content_tag(base, F.col("id"), F.col("grp"))
    log_dir = os.path.join(state_path, "accepted")
    prior_dirs = [
        os.path.join(log_dir, d)
        for d in entries(log_dir, "batch=")
        if d != f"batch={tag}"
    ]
    if prior_dirs:
        prior = (
            spark.read.parquet(*prior_dirs)
            .groupBy("grp")
            .agg(F.count("*").alias("_prior"))
        )
    else:
        prior = None
    ranked = _salted_exact_rank(base, "grp", ["id"], F.lit(cap), n_salts, "id")
    if prior is not None:
        ranked = ranked.join(F.broadcast(prior), "grp", "left").withColumn(
            "_prior", F.coalesce("_prior", F.lit(0))
        )
    else:
        ranked = ranked.withColumn("_prior", F.lit(0))
    accepted = ranked.where(
        F.col("rank_in_group") + F.col("_prior") <= cap
    ).select("id", "grp")
    final = publish(accepted, log_dir, f"batch={tag}")
    acc = spark.read.parquet(final).withColumn("accepted", F.lit(True))
    return (
        base.join(acc, ["id", "grp"], "left")
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            F.coalesce("accepted", F.lit(False)).alias("accepted"),
        )
    )


def top_fraction(
    df: DataFrame,
    score_col: str,
    id_col: str,
    fraction: float,
    n_buckets: int = 1024,
) -> DataFrame:
    """Keep the top `fraction` of rows by score (ties by id) — the
    quantile-threshold filter every published curation recipe ends
    with ("keep the best 30% by LM/classifier score"), made
    rank-exact instead of interpolated-quantile so it is
    deterministic and engine-portable: keep global_rank <=
    floor(fraction * n).

    Scale: the global rank by (score DESC, id ASC) uses the same
    TWO-LEVEL scan as packing.assign_shards, bucketing by SCORE RANGE
    (bounds from a tiny min/max aggregate; every row in a
    higher-score bucket outranks every row in a lower one, so
    intra-bucket row_number + descending prefix counts == the exact
    global rank) — never a single-partition global window. NULL
    scores sort last and are kept only if the fraction reaches them.
    Emits `global_rank` and `cutoff` for auditability.

    TIE SKEW is handled adaptively: a single score value carrying a
    large share of the corpus (coarse quality grades, constant
    columns) concentrates in one score bucket — within any bucket
    holding ONE distinct score (or only NULLs), ties order purely by
    id, so that bucket sub-buckets by ID RANGE losslessly (ascending
    sub-bucket prefix + intra-sub-bucket row_number == the exact
    in-bucket rank). Mixed buckets keep the plain in-bucket window;
    the split condition comes from a per-bucket stats aggregate, and
    non-numeric id columns disable the split (id-range math needs a
    number). The mega-tie window is therefore O(rows / subbuckets)
    per partition instead of one partition holding every tie."""
    from pyspark.sql.types import NumericType

    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"top_fraction: fraction must be in [0, 1], got {fraction}")
    tie_subbuckets = 64
    id_numeric = isinstance(df.schema[id_col].dataType, NumericType)
    base = df.withColumn("_s", F.col(score_col).cast("double"))
    # bounds over FINITE scores only (min/max skip NULLs); NULL scores
    # and the degenerate all-equal / all-null corpora land in bucket 0
    bounds = base.agg(
        F.min("_s").alias("lo"),
        F.max("_s").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    span = (F.col("hi") - F.col("lo")) / F.lit(n_buckets)
    bucketed = base.join(F.broadcast(bounds), F.lit(True)).withColumn(
        "_b",
        F.coalesce(
            F.when(F.col("_s").isNull() | (F.col("hi") == F.col("lo")), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((F.col("_s") - F.col("lo")) / span),
                    F.lit(n_buckets - 1),
                )
            ),
            F.lit(0),
        ),
    )
    # per-bucket stats decide the tie split: splittable iff the bucket
    # holds exactly one distinct finite score and no NULLs, or only
    # NULLs (countDistinct skips NULLs, so the mixed case fails both)
    stats = bucketed.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_bn"),
        F.countDistinct("_s").alias("_bd"),
        F.count(F.when(F.col("_s").isNull(), 1)).alias("_bnull"),
        F.min(F.col(id_col).cast("double")).alias("_ilo"),
        F.max(F.col(id_col).cast("double")).alias("_ihi"),
    )
    splittable = (
        ((F.col("_bd") <= 1) & (F.col("_bnull") == 0))
        | (F.col("_bnull") == F.col("_bn"))
    ) & F.lit(id_numeric)
    span2 = (F.col("_ihi") - F.col("_ilo")) / F.lit(tie_subbuckets)
    idd = F.col(id_col).cast("double")
    with_b2 = bucketed.join(F.broadcast(stats), "_b").withColumn(
        "_b2",
        F.when(
            ~splittable | (F.col("_ihi") == F.col("_ilo")), F.lit(0)
        ).otherwise(
            F.least(
                F.floor((idd - F.col("_ilo")) / span2),
                F.lit(tie_subbuckets - 1),
            )
        ),
    )
    # Spark desc() is NULLS LAST, matching the oracle's explicit
    # DESC NULLS LAST — null scores always rank below every finite
    # one. Non-split buckets have _b2 == 0 everywhere, so ONE window
    # form serves both paths (their sub-bucket prefix is 0).
    intra = Window.partitionBy("_b", "_b2").orderBy(F.desc("_s"), F.asc(id_col))
    with_intra = with_b2.withColumn("_rn", F.row_number().over(intra))
    totals2 = with_b2.groupBy("_b", "_b2").agg(F.count("*").alias("_cnt2"))
    prefix2 = totals2.select(
        "_b",
        "_b2",
        (
            F.sum("_cnt2").over(
                Window.partitionBy("_b").orderBy(F.asc("_b2"))
            )
            - F.col("_cnt2")
        ).alias("_prefix2"),
    )
    totals = bucketed.groupBy("_b").agg(F.count("*").alias("_cnt"))
    prefix = totals.select(
        "_b",
        (F.sum("_cnt").over(Window.orderBy(F.desc("_b"))) - F.col("_cnt")).alias(
            "_prefix"
        ),
    )
    rank = F.col("_prefix") + F.col("_prefix2") + F.col("_rn")
    cutoff = F.floor(F.col("n") * F.lit(fraction))
    return (
        with_intra.join(F.broadcast(prefix2), ["_b", "_b2"])
        .join(F.broadcast(prefix), "_b")
        .withColumn("global_rank", rank)
        .withColumn("cutoff", cutoff)
        .where(F.col("global_rank") <= F.col("cutoff"))
        .drop(
            "_s", "_b", "_b2", "_rn", "_prefix", "_prefix2", "lo", "hi", "n",
            "_bn", "_bd", "_bnull", "_ilo", "_ihi", "_cnt2",
        )
    )


def temperature_weights(
    df: DataFrame, group_col: str, text_col: str, alpha: float
) -> DataFrame:
    """Temperature-scaled domain mixture weights (the mT5/XLM-R
    multilingual recipe: sample domain g with probability
    p_g = c_g^alpha / sum_h c_h^alpha, alpha in (0, 1] — alpha < 1
    UPSAMPLES small domains relative to raw token share, the standard
    fix for low-resource languages drowning in the crawl). Returns one
    row per group: (group, n_tokens, weight), weight rounded to 6 so
    the value hash cannot trip on last-ulp libm pow divergence (the
    weighted_sample ln() discipline).

    Feed `weight / n_docs_in_group` into weighted_sample for the
    document-level pick — composition is the recipe; this operator
    owns only the exactly-reproducible mixture table. Token counts
    via the shared _ws_tokens so budgets agree with token_budget /
    epoch_mixture. One aggregate + a 1-row total broadcast — no other
    shuffle."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(
            f"temperature_weights: alpha must be in (0, 1], got {alpha}"
        )
    g = (
        df.select(
            F.col(group_col).alias("grp"), _ws_tokens(text_col).alias("_t")
        )
        .groupBy("grp")
        .agg(F.sum("_t").alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
    )
    tot = g.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("_z")
    )
    return (
        g.join(F.broadcast(tot), F.lit(True))
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            F.round(
                F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
                / F.col("_z"),
                6,
            ).alias("weight"),
        )
    )
